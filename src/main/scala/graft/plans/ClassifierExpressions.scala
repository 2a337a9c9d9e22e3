package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** µunit logit of a linear text classifier over HASHED unigram
  * features (the hashing trick, Weinberger et al. ICML'09; the model
  * family behind fastText, Joulin et al. EACL'17) — the in-row kernel
  * of a distilled quality classifier (cf. the WebText quality filter
  * of GPT-3, Brown et al. NeurIPS'20 §A; FineWeb-Edu's classifier
  * gate): score(doc) = bias + Σ_tokens w[h(token)], all in INTEGER
  * µunits because the weights were quantized once at training time
  * ([[graft.tools.TrainQualityClassifier]]) — no float enters the
  * query-time decision, so the `logit > 0` keep rule is engine-exact.
  *
  * h(token) = first 8 hex chars of md5(utf8(token)) mod dim — chosen
  * because BOTH engines state it identically in SQL
  * (`conv(substring(md5(t),1,8),16,10)` / DuckDB
  * `CAST('0x' || substr(md5(t),1,8) AS BIGINT)`), the q60/q157 shared
  * -hash contract. Tokenization is `split(text, ' ', -1)` — exactly
  * Spark's `split(text, ' ')` and DuckDB's `string_split`, empty
  * tokens preserved.
  *
  * The model is one [[FrozenTable]] of µunit longs in the fixture's own
  * bucket numbering: bucket b at index b + 2, so the threshold (bucket
  * −2) sits at 0, the bias (bucket −1) at 1 and the hashed weights
  * after them (~32 KB at dim 4096, one static call per row inside
  * whole-stage codegen on the fetched primitive long[]).
  */
case class HashedLogit(child: Expression, table: FrozenTable[Array[Long]])
    extends UnaryExpression with FrozenTableKernel[Array[Long]] {
  require(table.entries > 2, "weight table must be non-empty")

  override def dataType: DataType = LongType

  override protected def nullSafeEval(text: Any): Any =
    HashedLogit.score(text.asInstanceOf[UTF8String].toString, table.value)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val model = tableValue(ctx)
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.plans.HashedLogit.score(" +
        s"$text.toString(), $model);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): HashedLogit = copy(child = newChild)
}

object HashedLogit {

  /** The packed model: `[thr, bias, w(0), …, w(dim-1)]`. */
  def pack(weights: Array[Long], biasMu: Long, thrMu: Long): Array[Long] =
    Array(thrMu, biasMu) ++ weights

  /** The µunit keep threshold of a packed model (`logit > thr` keeps). */
  def threshold(model: Array[Long]): Long = model(0)

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Hashed feature bucket of one token: first 4 md5 bytes as an
    * unsigned 32-bit value, mod `dim` — definitionally equal to the
    * SQL `conv(substring(md5(token), 1, 8), 16, 10) % dim` both
    * engines evaluate, because hex chars 1..8 ARE bytes 0..3.
    */
  def bucket(token: String, dim: Int): Int = {
    val d = md5.get()
    d.reset()
    val h = d.digest(
      token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    (v % dim).toInt
  }

  /** bias + Σ_tokens w[bucket(token)] over a packed model — integer
    * µunit logit.
    */
  def score(text: String, model: Array[Long]): Long = {
    val parts = text.split(" ", -1)
    val dim = model.length - 2
    var sum = model(1)
    var i = 0
    while (i < parts.length) {
      sum += model(2 + bucket(parts(i), dim))
      i += 1
    }
    sum
  }
}
