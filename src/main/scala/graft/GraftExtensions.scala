package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.Bridge
import graft.functions._

/** Engine extension point — registers graft's native expressions with the
  * session so they are usable from SQL as well as the Column API:
  *
  * {{{
  *   val spark = builder.withExtensions(new GraftExtensions).getOrCreate()
  *   spark.sql("SELECT graft_dot(a.embedding, b.embedding) ...")
  * }}}
  *
  * Injection keeps the engine a library: no fork of Spark, standard
  * `spark.sql.extensions=graft.GraftExtensions` deployment on a cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => graft.plan.InferDisjunctionHulls)
  }
}

object GraftExtensions {
  private type Fn = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects an INTEGER literal argument, got $other")
  }

  private def strArg(e: Expression, fn: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects STRING literal pattern arguments, got $other")
  }

  private def fn(name: String, cls: Class[_])
                (builder: Seq[Expression] => Expression): Fn =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** Wrap a Column-composition function as a registry builder — the same
    * resolved expression tree the Scala API builds, SQL-callable. */
  private def comp(args: Seq[Expression])
                  (f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column): Expression =
    Bridge.expressionTree(f(args.map(Bridge.column)))

  /** The whole native family, SQL-callable. Shape/centroid parameters must
    * be integer literals (they size the fused loops at plan time). */
  val functions: Seq[Fn] = Seq(
    fn("graft_dot", classOf[DotProductF32])(a => DotProductF32(a(0), a(1))),
    fn("graft_polyhash", classOf[PolyHash32])(a => PolyHash32(a(0))),
    fn("graft_minhash", classOf[MinHashSig])(a =>
      MinHashSig(a(0), intArg(a(1), "graft_minhash"))),
    fn("graft_simhash", classOf[SimHash48])(a => SimHash48(a(0))),
    fn("graft_hyperplane", classOf[HyperplaneSigs])(a =>
      HyperplaneSigs(a(0), intArg(a(1), "graft_hyperplane"),
        intArg(a(2), "graft_hyperplane"), intArg(a(3), "graft_hyperplane"))),
    fn("graft_word_shingles", classOf[WordShingles])(a =>
      WordShingles(a(0), intArg(a(1), "graft_word_shingles"))),
    fn("graft_shingle_hashes", classOf[WordShingleHashes])(a =>
      WordShingleHashes(a(0), intArg(a(1), "graft_shingle_hashes"))),
    fn("graft_shingle_hashes64", classOf[WordShingleHashes64])(a =>
      WordShingleHashes64(a(0), intArg(a(1), "graft_shingle_hashes64"))),
    fn("graft_array_polyhash", classOf[ArrayPolyHash])(a => ArrayPolyHash(a(0))),
    fn("graft_char_windows", classOf[CharWindows])(a =>
      CharWindows(a(0), intArg(a(1), "graft_char_windows"))),
    fn("graft_char_window_hashes", classOf[CharWindowHashPos])(a =>
      CharWindowHashPos(a(0), intArg(a(1), "graft_char_window_hashes"))),
    fn("graft_cdc_chunk_hashes", classOf[CdcChunkHashes])(a =>
      CdcChunkHashes(a(0), intArg(a(1), "graft_cdc_chunk_hashes"))),
    fn("graft_pq_adc", classOf[PqAdc])(a => PqAdc(a(0), a(1))),
    fn("graft_winnow", classOf[WinnowHashes])(a =>
      WinnowHashes(a(0), intArg(a(1), "graft_winnow"),
        intArg(a(2), "graft_winnow"))),
    // graft_phrase_matches(text, 'p1', 'p2', ...): the pattern list is
    // literal because the Aho-Corasick automaton is built at plan time
    fn("graft_phrase_matches", classOf[PhraseMatches])(a =>
      PhraseMatches(a(0), a.drop(1).map(strArg(_, "graft_phrase_matches")))),
    // composition-backed (same trees as the Scala API):
    fn("graft_tokens", TextFunctions.getClass)(a =>
      comp(a)(c => TextFunctions.tokens(c(0)))),
    fn("graft_token_count", TextFunctions.getClass)(a =>
      comp(a)(c => TextFunctions.tokenCountRegex(c(0)))),
    fn("graft_cosine", VectorFunctions.getClass)(a =>
      comp(a)(c => VectorFunctions.cosine(c(0), c(1)))),
    fn("graft_norm", VectorFunctions.getClass)(a =>
      comp(a)(c => VectorFunctions.norm(c(0)))),
    fn("graft_roundp", TextFunctions.getClass)(a =>
      comp(a.take(1))(c => TextFunctions.roundp(c(0), intArg(a(1), "graft_roundp")))),
    // graft_char_class_count(text, '\\p{IsCyrillic}'): q181's script-mix
    // kernel; the class pattern is a plan-time literal
    fn("graft_char_class_count", TextFunctions.getClass)(a =>
      comp(a.take(1))(c => TextFunctions.charClassCount(c(0),
        strArg(a(1), "graft_char_class_count")))),
    fn("graft_redact_pii", graft.queries.CurationQueries.getClass)(a =>
      comp(a)(c => graft.queries.CurationQueries.redactPii(c(0)))),
    // graft_geodesic_m(lon1, lat1, lon2, lat2): WGS84 Vincenty metres;
    // NaN in the ~0.55 degree nearly-antipodal cap (documented out-of-domain)
    fn("graft_geodesic_m", classOf[GeodesicMeters])(a =>
      comp(a)(c => GeodesicFunctions.geodesicMeters(c(0), c(1), c(2), c(3)))),
  )

  /** Imperative registration for an existing session (`GraftSession`).
    * Also registers the sketch AGGREGATES (`spark.udf.register` is the
    * UDAF path — SparkSessionExtensions.injectFunction only takes scalar
    * expression builders): `graft_hll_distinct(hash64)` and
    * `graft_mg_heavy_hitters(token)` make the one-pass profile forms
    * SQL-reachable with the same mergeable partial-combine plans as the
    * Column API. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach(f => registry.registerFunction(f._1, f._2, f._3))
    // optimizer rules can't enter the operator batch of a session that
    // already exists; the public experimental hook runs them in the
    // "User Provided Optimizers" batch (the rule is written to be
    // effective there — it plants hulls directly on join children)
    if (!spark.experimental.extraOptimizations
          .contains(graft.plan.InferDisjunctionHulls))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plan.InferDisjunctionHulls
    import org.apache.spark.sql.{functions => F, Encoders}
    spark.udf.register("graft_hll_distinct",
      F.udaf(new graft.ops.Sketches.HllAgg(13), Encoders.scalaLong))
    spark.udf.register("graft_mg_heavy_hitters",
      F.udaf(new graft.ops.Sketches.MisraGriesAgg(512), Encoders.STRING))
  }
}
