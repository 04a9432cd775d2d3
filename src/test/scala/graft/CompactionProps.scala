package graft

import graft.log.{LogId, LogStore, LogWriter}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck law for the whole compaction family: ANY interleaving of
  * produce batches with compact (plain or gzip) / compactTiered /
  * freezeColdSegments / compactToParquet / trim (random parameters)
  * preserves exactly the produced entries, in id order, with
  * non-overlapping sorted segment ranges, and every format's id-only scan
  * agrees with its full read. The
  * example tests in LogSourceSpec pin individual behaviors; this pins the
  * invariant every reader depends on — compaction may reorganize bytes,
  * never data.
  */
object CompactionProps extends Properties("LogCompaction") {

  private sealed trait Op
  private case class Produce(n: Int) extends Op
  private case class StagedPublish(n: Int) extends Op
  private case class CompactAll(gzip: Boolean) extends Op
  private case class Tiered(target: Long, minMerge: Int) extends Op
  private case class Freeze(minBytes: Long, keepHot: Int) extends Op
  private case object ToParquet extends Op
  private case class Trim(frac: Double) extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    4 -> Gen.chooseNum(1, 40).map(Produce),
    2 -> Gen.chooseNum(1, 25).map(StagedPublish),
    1 -> Gen.choose(0.1, 0.6).map(Trim),
    1 -> Gen.const(CompactAll(gzip = false)),
    1 -> Gen.const(CompactAll(gzip = true)),
    2 -> (for {
      t <- Gen.chooseNum(64L, 4096L)
      m <- Gen.chooseNum(2, 5)
    } yield Tiered(t, m)),
    2 -> (for {
      b <- Gen.chooseNum(1L, 2048L)
      k <- Gen.chooseNum(0, 3)
    } yield Freeze(b, k)),
    1 -> Gen.const(ToParquet))

  property("any op sequence preserves entries, order, and range soundness") =
    Prop.forAll(Gen.listOfN(12, genOp)) { ops =>
      val root = TestSpark.tmpDir("compaction-props")
      var now = 1000L
      // tiny segments (3 entries) so a short sequence spans many files
      val w = new LogWriter(root, "s", () => now, maxSegmentEntries = 3)
      var produced = 0
      var trimmedBelow = 0 // highest payload value dropped by retention
      ops.foreach {
        case Produce(n) =>
          (1 to n).foreach { _ =>
            now += 7
            w.produce(Map("i" -> (produced + 1), "p" -> ("x" * 20)))
            produced += 1
          }
        case StagedPublish(n) =>
          // the sink's de-funneled path: values-only staged files renamed
          // into a reserved id range — compaction must fold these exactly
          // like ordinary segments
          now += 7
          val staging = LogStore.streamDir(root, "s").resolve(".staging")
          java.nio.file.Files.createDirectories(staging)
          val files = (1 to n).grouped(4).map { chunk =>
            val f = staging.resolve(s"${java.util.UUID.randomUUID()}.vjsonl")
            val lines = chunk.map { k =>
              LogStore.encodeValuesLine(Map(
                "i" -> (produced + k).toString, "p" -> ("x" * 20)))
            }.mkString("", "\n", "\n")
            java.nio.file.Files.write(f,
              lines.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            (f, chunk.size.toLong)
          }.toSeq
          w.publishStagedValues(files)
          produced += n
        case Trim(frac) =>
          // retention composes with every compaction flavor: cut at the id
          // of the frac-th remaining entry and track what must be gone
          val entries = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
          val k = (entries.size * frac).toInt
          if (k > 0) {
            val dropped = LogStore.trim(root, "s", entries(k - 1).id)
            assert(dropped == k, s"trim dropped $dropped, asked for $k")
            trimmedBelow = math.max(trimmedBelow, entries(k - 1).values("i").toInt)
          }
        case CompactAll(gz) => LogStore.compact(root, "s", LogStore.maxId(root, "s"), gz)
        case Tiered(t, m) => LogStore.compactTiered(root, "s", t, m)
        case Freeze(b, k) => LogStore.freezeColdSegments(root, "s", b, k)
        case ToParquet => LogStore.compactToParquet(root, "s", LogStore.maxId(root, "s"))
      }
      val entries = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
      val segs = LogStore.segments(root, "s")
      val sortedByFirst = segs.sortBy(_.first) == segs
      val nonOverlapping = segs.sliding(2).forall {
        case Seq(a, b) => a.last < b.first
        case _ => true
      }
      val values = entries.map(_.values("i").toInt)
      val scannedIds = LogStore.listing(root, "s").idsAfter(LogId.Zero, Int.MaxValue)
      val expected = (trimmedBelow + 1) to produced
      (entries.size == expected.size) :| s"${entries.size} entries != ${expected.size} retained" &&
        (values == expected.toList) :| "entry order/content diverged" &&
        sortedByFirst :| "segments not sorted by first id" &&
        nonOverlapping :| "segment ranges overlap" &&
        (scannedIds == entries.map(_.id)) :| "id-only scan diverged from the full read"
    }
}
