package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot per-row kernels of the dedup /
  * similarity family. The SQL higher-order-function formulations (TextHash)
  * are semantically identical but interpret a lambda per element; these run
  * the same arithmetic as tight loops (PolyHash and DotProduct with
  * whole-stage codegen), which is what makes minhash/simhash/cosine viable
  * at 100 TB. The DuckDB oracle mirrors in TextHash/VectorFns are unchanged —
  * same ops in the same order, bit-identical results (ASCII payloads; the
  * byte==codepoint equivalence the polyhash relies on).
  */
object GraftExpressions {

  val P = 1000000007L

  /** Every graft_* function, by SQL name: the one list that
    * `GraftExtensions` injects at session build and `ensureRegistered`
    * fills in on sessions built without the extensions.
    */
  val functions: Seq[(String, FunctionBuilder)] = Seq(
    "graft_polyhash" -> (es => PolyHash(es.head)),
    "graft_minhash" -> (es => MinHashSig(es.head)),
    "graft_simhash32" -> (es => SimHash32(es.head)),
    "graft_dot" -> (es => DotProduct(es(0), es(1))),
    "graft_doti" -> (es => DotProductInt(es(0), es(1))),
    "graft_sqdisti" -> (es => SquaredDistInt(es(0), es(1))),
    "graft_detln" -> (es => DetLnRat(es(0), es(1))),
    "graft_detexp" -> (es => DetExpMicro(es.head)),
    // Spark's internal bloom pair (what its own runtime filters use),
    // surfaced as engine functions: build a filter over the small side's
    // keys, probe it map-side on the fact side BEFORE the shuffle — the
    // explicit form of the semi-join pruning that matters at 100 TB.
    "graft_bloom_agg" -> (es =>
      new BloomFilterAggregate(es(0), es(1), es(2)).toAggregateExpression()),
    "graft_might_contain" -> (es => BloomFilterMightContain(es(0), es(1))))

  private[graft] def info(name: String): ExpressionInfo =
    new ExpressionInfo(getClass.getName, name)

  /** Register the graft_* functions this session lacks. Idempotent: a name
    * already present (injected by `GraftExtensions`, or by an earlier call)
    * keeps its builder, so repeat calls replace nothing.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) reg.registerFunction(id, info(name), builder)
    }
  }

  def polyHashBytes(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31L + (bytes(i) & 0xffL)) % P
      i += 1
    }
    acc
  }
}

/** polyhash(s): (acc*31 + byte) mod P over the UTF-8 bytes — equals the
  * per-codepoint HOF/oracle formulation for ASCII input. Codegen'd single
  * pass, no per-char substring.
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override protected def nullSafeEval(input: Any): Any =
    GraftExpressions.polyHashBytes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $acc = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $acc = ($acc * 31L + ($bytes[$i] & 0xffL)) % ${GraftExpressions.P}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 16-permutation minhash signature of an ARRAY<BIGINT> feature-hash set:
  * sig[i] = min over h of ((2i+1)*h + 1000003*i + 12345) mod P. Codegen'd
  * double loop (the LSH family's map-side hot path — a fallback here
  * breaks whole-stage fusion of the entire signature stage).
  */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](TextHash.MinhashSigs)
    var i = 0
    while (i < TextHash.MinhashSigs) {
      val a = 2L * i + 1L
      val b = 1000003L * i + 12345L
      var mn = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = (a * arr.getLong(j) + b) % GraftExpressions.P
        if (v < mn) mn = v
        j += 1
      }
      out(i) = mn
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val mn = ctx.freshName("mn")
      val v = ctx.freshName("v")
      s"""
         |int $n = $c.numElements();
         |long[] $out = new long[${TextHash.MinhashSigs}];
         |for (int $i = 0; $i < ${TextHash.MinhashSigs}; $i++) {
         |  long $a = 2L * $i + 1L;
         |  long $b = 1000003L * $i + 12345L;
         |  long $mn = Long.MAX_VALUE;
         |  for (int $j = 0; $j < $n; $j++) {
         |    long $v = ($a * $c.getLong($j) + $b) % ${GraftExpressions.P}L;
         |    if ($v < $mn) $mn = $v;
         |  }
         |  $out[$i] = $mn;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 32-bit simhash of an ARRAY<BIGINT> feature-hash set: bit j is set iff the
  * sum of (+1 / -1) votes from each hash's j-th bit is positive. Codegen'd
  * (same rationale as [[MinHashSig]]).
  */
case class SimHash32(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash32"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](32)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var b = 0
      while (b < 32) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var acc = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) acc |= (1L << b)
      b += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val votes = ctx.freshName("votes")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val b = ctx.freshName("b")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $c.numElements();
         |int[] $votes = new int[32];
         |for (int $j = 0; $j < $n; $j++) {
         |  long $h = $c.getLong($j);
         |  for (int $b = 0; $b < 32; $b++) {
         |    if ((($h >> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $acc = 0L;
         |for (int $b = 0; $b < 32; $b++) {
         |  if ($votes[$b] > 0) $acc |= (1L << $b);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** dot(a, b) over ARRAY<FLOAT> in double precision, left-to-right — the same
  * IEEE addition order as the HOF fold and the DuckDB list_reduce mirror, so
  * results are bit-identical across all three. Codegen'd loop.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** doti(a, b) over ARRAY<BIGINT>: integer dot product as one codegen'd loop.
  * Replaces the interpreted `aggregate(zip_with(...))` HOF in the quantized
  * retrieval kernels (q172/q178) — same left-to-right integer arithmetic
  * (associative, so identical to the fold and the DuckDB list_reduce
  * mirror), no per-element lambda dispatch.
  */
case class DotProductInt(left: Expression, right: Expression) extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_doti"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sqdist(a, b) over ARRAY<BIGINT>: integer squared L2 distance as one
  * codegen'd loop — the inner kernel of the quantized k-means / PQ / IVF-PQ
  * family (q142/q147/q156), where it runs once per (vector, centroid) pair.
  */
case class SquaredDistInt(left: Expression, right: Expression) extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sqdisti"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
