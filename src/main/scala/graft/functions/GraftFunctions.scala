package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** graft's native Catalyst kernels, two ways in:
  *  - a typed `Column` constructor per kernel ([[cosine]], [[pqAdc]], …),
  *    which is how every graft operator puts a kernel into a plan. It
  *    needs nothing on the session: the kernel expression wraps its
  *    argument columns, and the session's column converter resolves them
  *    where the column is used;
  *  - SQL names (`graft_cosine(a, b)` in `spark.sql`), from the registry
  *    entries in [[all]]: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    at deploy time, or [[installAll]] on a live session (what
  *    `graft.GraftSession.start` does for every entry point).
  */
object GraftFunctions {
  private def kernel(e: Expression): Column = GraftSqlBridge.column(e)
  private def arg(c: Column): Expression = GraftSqlBridge.argument(c)

  def cosine(a: Column, b: Column): Column = kernel(CosineSimilarity(arg(a), arg(b)))
  def cosineD(a: Column, b: Column): Column = kernel(CosineSimilarityD(arg(a), arg(b)))
  def digest60(s: Column): Column = kernel(Digest60(arg(s)))
  def quantizeSq8(v: Column): Column = kernel(QuantizeSq8(arg(v)))
  def intDot(a: Column, b: Column): Column = kernel(IntDotProduct(arg(a), arg(b)))
  def floatDot(a: Column, b: Column): Column = kernel(FloatDotProduct(arg(a), arg(b)))
  def pqAdc(lut: Column, codes: Column, codebookSize: Int): Column =
    kernel(PqAdcScore(arg(lut), arg(codes), codebookSize))
  def hashEmbed(text: Column, dim: Int): Column = kernel(HashEmbed(arg(text), dim))
  def decodeFeatures(payload: Column): Column = kernel(DecodeFeatures(arg(payload)))
  def mediaHeader(payload: Column): Column = kernel(MediaHeader(arg(payload)))
  def avHeader(payload: Column): Column = kernel(AvHeader(arg(payload)))
  def gramDigests(text: Column, gramChars: Int): Column =
    kernel(GramDigests(arg(text), gramChars))
  def tokenGramDigests(text: Column, gramTokens: Int): Column =
    kernel(TokenGramDigests(arg(text), gramTokens))
  def byteEncode(word: Column): Column = kernel(ByteEncode(arg(word)))
  def phash(payload: Column): Column = kernel(PHash64(arg(payload)))
  def synthBmp(id: Column): Column = kernel(SynthBmp(arg(id)))
  def bmpTile(payload: Column): Column = kernel(BmpLumaTile(arg(payload)))
  def phashBmp(payload: Column): Column = kernel(PHashBmp(arg(payload)))

  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _                            => None
    }
  }

  /** One registry entry; `usage` is the error for any argument list
    * `build` does not take. */
  private def entry(name: String, cls: Class[_], usage: String)(
      build: PartialFunction[Seq[Expression], Expression])
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => build.applyOrElse(args, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(s"$name$usage, got ${args.mkString(", ")}")))

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    entry("graft_cosine", classOf[CosineSimilarity],
        "(a, b) takes two array<float> arguments") {
      case Seq(a, b) => CosineSimilarity(a, b) },
    entry("graft_cosine_d", classOf[CosineSimilarityD],
        "(a, b) takes two array<double> arguments") {
      case Seq(a, b) => CosineSimilarityD(a, b) },
    entry("graft_digest60", classOf[Digest60], "(s) takes one string argument") {
      case Seq(s) => Digest60(s) },
    entry("graft_quantize_sq8", classOf[QuantizeSq8], "(v) takes one array<float> argument") {
      case Seq(v) => QuantizeSq8(v) },
    entry("graft_int_dot", classOf[IntDotProduct], "(a, b) takes two array<int> arguments") {
      case Seq(a, b) => IntDotProduct(a, b) },
    entry("graft_float_dot", classOf[FloatDotProduct],
        "(a, b) takes two array<float> arguments") {
      case Seq(a, b) => FloatDotProduct(a, b) },
    entry("graft_pq_adc", classOf[PqAdcScore],
        "(lut, codes, k) takes a LUT, a code vector and an int literal codebook size") {
      case Seq(l, c, IntLit(k)) => PqAdcScore(l, c, k) },
    entry("graft_hash_embed", classOf[HashEmbed],
        "(text, dim) takes a string and an int literal dimension") {
      case Seq(t, IntLit(d)) => HashEmbed(t, d) },
    entry("graft_decode_features", classOf[DecodeFeatures],
        "(payload) takes one binary argument") {
      case Seq(p) => DecodeFeatures(p) },
    entry("graft_media_header", classOf[MediaHeader], "(payload) takes one binary argument") {
      case Seq(p) => MediaHeader(p) },
    entry("graft_av_header", classOf[AvHeader], "(payload) takes one binary argument") {
      case Seq(p) => AvHeader(p) },
    entry("graft_gram_digests", classOf[GramDigests],
        "(text, gramChars) takes a string and an int literal width") {
      case Seq(t, IntLit(l)) => GramDigests(t, l) },
    entry("graft_token_gram_digests", classOf[TokenGramDigests],
        "(text, gramTokens) takes a string and an int literal width") {
      case Seq(t, IntLit(l)) => TokenGramDigests(t, l) },
    entry("graft_byte_encode", classOf[ByteEncode], "(word) takes one string argument") {
      case Seq(w) => ByteEncode(w) },
    entry("graft_phash", classOf[PHash64], "(payload) takes one binary argument") {
      case Seq(p) => PHash64(p) },
    entry("graft_synth_bmp", classOf[SynthBmp], "(id) takes one bigint argument") {
      case Seq(i) => SynthBmp(i) },
    entry("graft_bmp_tile", classOf[BmpLumaTile], "(payload) takes one binary argument") {
      case Seq(p) => BmpLumaTile(p) },
    entry("graft_phash_bmp", classOf[PHashBmp], "(payload) takes one binary argument") {
      case Seq(p) => PHashBmp(p) })

  /** SQL names, optimizer rule and planner strategy on a live session.
    * Re-registering a name overwrites it, so graft's builders win over a
    * stale or foreign registration of the same name. */
  def installAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
    graft.plans.GraftOptimizations.install(spark)
    GraftSqlBridge.addStrategy(spark, graft.plans.TopKPerKeyStrategy)
  }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.DerivedPredicatePushdown)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}
