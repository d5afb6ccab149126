package graft.expr

import graft.kernel.Hashing
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  Literal, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ExpressionColumns.{column, expression}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType,
  StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the kernel's hash functions.
  *
  * These are the custom-`Expression` tier of the extension ladder (compose
  * built-ins → native Expression → custom plan): unlike a Scala UDF or a
  * typed `Dataset.map`, they participate in whole-stage codegen — the
  * generated Java calls the kernel's static method directly on the
  * column's UTF8String, with no row deserialization, no closure dispatch
  * and no typed-boundary `DeserializeToObject`/`SerializeFromObject` pair
  * around them. Used by Dedup.simhashNearDups so the whole candidate
  * pipeline stays inside codegen. (Scala objects emit static forwarders,
  * so `graft.kernel.Hashing.simhash64(String)` is a valid Java call in
  * generated code.)
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any =
    Hashing.simhash64(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kernel.Hashing.simhash64($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

case class RollingFingerprintExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint64"

  override def nullSafeEval(input: Any): Any =
    Hashing.rollingFingerprint(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kernel.Hashing.rollingFingerprint($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprintExpr =
    copy(child = newChild)
}

/** splitmix64 finisher over a LONG column — the engine-independent row
  * hash behind deterministic sampling (ScalePatterns.stratifiedSample):
  * unlike `rand()` it is replayable under task retry, and unlike
  * `xxhash64` it is re-derivable in the DuckDB oracle's HUGEINT mod-2^64
  * SQL (the same mixCtes used by q33). */
case class Mix64Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a bigint argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_mix64"

  override def nullSafeEval(input: Any): Any =
    Hashing.mix(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kernel.Hashing.mix($c)")

  override protected def withNewChildInternal(newChild: Expression): Mix64Expr =
    copy(child = newChild)
}

/** Kernel FNV-1a (with the splitmix64 finisher baked in — see
  * Hashing.fnv1a) over a STRING column: the per-gram hash behind DSIR
  * bucket assignment (TextOps.dsirBucketWeights). Engine-independent and
  * re-derivable in the oracle's HUGEINT per-character fold + mix chain. */
case class Fnv1a64Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fnv1a64"

  override def nullSafeEval(input: Any): Any =
    Hashing.fnv1a(input.asInstanceOf[UTF8String].toString, 0L)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kernel.Hashing.fnv1a($c.toString(), 0L)")

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64Expr =
    copy(child = newChild)
}

/** Q20 fixed-point integer log2 (Hashing.ilog2Q20) over a positive LONG
  * column — the float-free log behind DSIR's importance weights. The
  * DuckDB oracle unrolls the identical 20-step digit recurrence in
  * HUGEINT SQL, so log-ratio scores are integer-exact cross-engine. */
case class Ilog2Q20Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a bigint argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_ilog2q20"

  override def nullSafeEval(input: Any): Any =
    Hashing.ilog2Q20(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kernel.Hashing.ilog2Q20($c)")

  override protected def withNewChildInternal(newChild: Expression): Ilog2Q20Expr =
    copy(child = newChild)
}

/** Word-shingle fingerprints in one pass over the text's bytes.
  * `graft_shingles64(text, k)` equals, element for element and in position
  * order, `xxhash64(array_join(slice(split(text, ' '), i + 1, k), ' '))`
  * for i in 0 .. tokens − k, and is empty when the text has fewer than k
  * single-space tokens. k consecutive tokens joined by one space are the
  * exact source substring between their boundary spaces, so each window is
  * hashed in place with Spark's own XXH64 (seed 42) and no token or shingle
  * string is ever allocated.
  *
  * The composed built-in form costs O(tokens²) per row: Spark's
  * higher-order functions are `CodegenFallback`, and the `split` that
  * column pruning inlines into the `transform` lambda re-runs for every
  * shingle (SCALE.md, the HOF trap). `k` must be a constant ≥ 1. */
case class Shingles64Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string first argument")
    else KernelExpressions.checkPositiveConstant(prettyName, right)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingles64"

  override def nullSafeEval(text: Any, k: Any): Any =
    ShingleHash.shingles64(text.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) => s"graft.expr.ShingleHash.shingles64($t, $k)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Shingles64Expr = copy(left = newLeft, right = newRight)
}

/** MinHash signature over 64-bit shingle fingerprints:
  * `graft_minhash64(shingles, m)[s] = min over x of xxhash64(x, s)` for
  * s in 0 .. m − 1, i.e. `XXH64.hashLong(s, XXH64.hashLong(x, 42))`; all
  * `Long.MaxValue` for an empty array. One native loop: an
  * `aggregate`/`zip_with` fold would run interpreted, as higher-order
  * functions are `CodegenFallback`. `m` must be a constant ≥ 1. */
case class MinHash64Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(LongType, _) => KernelExpressions.checkPositiveConstant(prettyName, right)
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<bigint> first argument")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash64"

  override def nullSafeEval(shingles: Any, m: Any): Any =
    ShingleHash.minhash64(shingles.asInstanceOf[ArrayData], m.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, m) => s"graft.expr.ShingleHash.minhash64($a, $m)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): MinHash64Expr = copy(left = newLeft, right = newRight)
}

/** The loops behind [[Shingles64Expr]] and [[MinHash64Expr]] (static
  * forwarders make them callable from generated Java). */
object ShingleHash {
  private final val Seed = 42L // xxhash64's seed

  def shingles64(text: UTF8String, k: Int): ArrayData = {
    // split(text, ' ') cuts the DECODED string, and decoding replaces
    // malformed UTF-8 with U+FFFD: hash the re-encoded bytes to agree
    val s = if (text.isValid) text else UTF8String.fromString(text.toString)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    // 0x20 never occurs inside a multibyte UTF-8 sequence, so every space
    // byte is a token boundary
    var spaces = new Array[Int](64)
    var cnt = 0
    var i = 0
    while (i < n) {
      if (Platform.getByte(base, off + i) == ' ') {
        if (cnt == spaces.length) spaces = java.util.Arrays.copyOf(spaces, cnt * 2)
        spaces(cnt) = i
        cnt += 1
      }
      i += 1
    }
    // cnt + 1 tokens; window w spans tokens w .. w + k - 1
    val windows = math.max(cnt + 2 - k, 0)
    val out = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      val start = if (w == 0) 0 else spaces(w - 1) + 1
      val last = w + k - 1
      val end = if (last == cnt) n else spaces(last)
      out(w) = XXH64.hashUnsafeBytes(base, off + start, end - start, Seed)
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def minhash64(shingles: ArrayData, m: Int): ArrayData = {
    val sig = Array.fill(m)(Long.MaxValue)
    var i = 0
    while (i < shingles.numElements()) {
      // xxhash64(x, s) folds x, then s, into the seed; a null x is skipped
      val hx = if (shingles.isNullAt(i)) Seed else XXH64.hashLong(shingles.getLong(i), Seed)
      var s = 0
      while (s < m) {
        val h = XXH64.hashLong(s.toLong, hx)
        if (h < sig(s)) sig(s) = h
        s += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}

object KernelExpressions {

  private[expr] def checkPositiveConstant(fn: String, e: Expression): TypeCheckResult =
    if (e.dataType == IntegerType && e.foldable &&
        Option(e.eval()).exists(_.asInstanceOf[Int] >= 1))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$fn requires a constant int >= 1 as its second argument")

  /** `graft_shingles64(text, k)` as a Column, without a session. */
  def shingles64(text: Column, k: Int): Column =
    column(Shingles64Expr(expression(text), Literal(k)))

  /** `graft_minhash64(shingles, m)` as a Column, without a session. */
  def minhash64(shingles: Column, m: Int): Column =
    column(MinHash64Expr(expression(shingles), Literal(m)))

  /** Idempotent registration in the session's function registry; the
    * expressions are then usable from SQL and via the Column helpers. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("graft_simhash64",
      exprs => SimHash64Expr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_fingerprint64",
      exprs => RollingFingerprintExpr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_mix64",
      exprs => Mix64Expr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_fnv1a64",
      exprs => Fnv1a64Expr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_ilog2q20",
      exprs => Ilog2Q20Expr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_shingles64",
      exprs => Shingles64Expr(exprs(0), exprs(1)), "built-in")
    registry.createOrReplaceTempFunction("graft_minhash64",
      exprs => MinHash64Expr(exprs(0), exprs(1)), "built-in")
  }

  /** Column helpers (register + refer by name — version-stable across the
    * Spark 4 Column/ColumnNode split). */
  def simhash64(spark: SparkSession, colName: String): Column = {
    register(spark)
    expr(s"graft_simhash64($colName)")
  }

  def fingerprint64(spark: SparkSession, colName: String): Column = {
    register(spark)
    expr(s"graft_fingerprint64($colName)")
  }

  def mix64(spark: SparkSession, colName: String): Column = {
    register(spark)
    expr(s"graft_mix64($colName)")
  }
}
