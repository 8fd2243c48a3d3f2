package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: the MinHash signature of a token array.
  *
  * The shingles are the 3-word shingles of `tokens`, each the words
  * joined by one space; a document of fewer than 3 tokens has one
  * shingle, all its tokens joined (the empty string for none). Each
  * shingle is hashed once: the first 60 bits of its UTF-8 MD5 (15 hex
  * digits) mod [[Prime]]. The signature is, for each of the
  * [[NumPerms]] affine permutations `(a, b)` of [[perms]], the minimum
  * of `(a·h + b) mod p` over the shingles: pure 64-bit arithmetic, exact
  * in any engine, and the family the DuckDB oracle derives.
  *
  * One pass per row, with no intermediate arrays or strings: each
  * token's bytes go into a reused MD5 digest, and each hash folds into
  * the running minimums. The result is an `UnsafeArrayData` of
  * [[NumPerms]] longs. A NULL token array, or one whose every shingle
  * holds a NULL token, gives [[NumPerms]] NULL minimums, so a row is
  * never dropped: the same values as exploding the shingles, hashing
  * each with `md5`/`conv` and min-aggregating per row (a NULL shingle
  * hashes to NULL, and `min` skips NULL). `doGenCode` calls the same
  * kernel from whole-stage code, so `tokens` and everything below it is
  * code-generated too (an interpreted child would read the SQL conf in
  * the task, where a plain `RDD` action propagates none).
  *
  * Registered as SQL function `graft_minhash` via [[GraftExtensions]]. */
case class MinHashExpr(child: Expression) extends UnaryExpression {
  import MinHashExpr._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects ARRAY<STRING>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash"

  @transient private lazy val md5 = newDigest()

  override def eval(input: InternalRow): Any =
    signature(child.eval(input).asInstanceOf[ArrayData], md5)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val md = ctx.addMutableState(classOf[MessageDigest].getName, "md5",
      v => s"$v = ${classOf[MinHashExpr].getName}.newDigest();")
    ev.copy(code = code"""
      |${t.code}
      |${classOf[ArrayData].getName} ${ev.value} = ${classOf[MinHashExpr].getName}.signature(
      |  ${t.isNull} ? null : ${t.value}, $md);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashExpr =
    copy(child = newChild)
}

object MinHashExpr {

  /** Number of permutations, the signature's length. */
  val NumPerms = 16

  /** Mersenne prime 2^31−1: modulus of the affine permutation family. */
  val Prime = 2147483647L

  /** Deterministic (a, b) pairs for h_i(x) = (a·x + b) mod p. Seeded so
    * the DuckDB oracle (OracleSql) derives the identical family. */
  val perms: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(7)
    Array.fill(NumPerms)(
      (rnd.nextInt(Int.MaxValue - 1).toLong + 1L, rnd.nextInt(Int.MaxValue).toLong))
  }
  private val as = perms.map(_._1)
  private val bs = perms.map(_._2)

  private val Space = Array(' '.toByte)

  /** A fresh MD5 digest (callable from generated code: no checked exception). */
  def newDigest(): MessageDigest = MessageDigest.getInstance("MD5")

  /** The signature of `tokens` (NULL: no shingles), hashing with `md`. */
  def signature(tokens: ArrayData, md: MessageDigest): ArrayData = {
    val mins = Array.fill(NumPerms)(Long.MaxValue)
    var seen = false
    def fold(h: Long): Unit = {
      var i = 0
      while (i < NumPerms) {
        val v = (h * as(i) + bs(i)) % Prime
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      seen = true
    }
    if (tokens != null) {
      val n = tokens.numElements()
      val bytes = Array.tabulate(n)(i =>
        if (tokens.isNullAt(i)) null else tokens.getUTF8String(i).getBytes)
      if (n >= 3) {
        var i = 0
        while (i + 2 < n) {
          if (bytes(i) != null && bytes(i + 1) != null && bytes(i + 2) != null) {
            md.update(bytes(i)); md.update(Space)
            md.update(bytes(i + 1)); md.update(Space)
            md.update(bytes(i + 2))
            fold(hash(md))
          }
          i += 1
        }
      } else {
        // the tokens joined by one space, NULL tokens skipped
        var first = true
        bytes.foreach { b =>
          if (b != null) {
            if (!first) md.update(Space)
            md.update(b)
            first = false
          }
        }
        fold(hash(md))
      }
    }
    val out = UnsafeArrayData.createFreshArray(NumPerms, 8)
    var i = 0
    while (i < NumPerms) {
      if (seen) out.setLong(i, mins(i)) else out.setNullAt(i)
      i += 1
    }
    out
  }

  /** The first 60 bits of the digest (15 hex digits), mod [[Prime]];
    * resets `md`. */
  private def hash(md: MessageDigest): Long = {
    val d = md.digest()
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h >>> 4) % Prime
  }
}
