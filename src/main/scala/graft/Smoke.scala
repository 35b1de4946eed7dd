package graft

import org.apache.spark.sql.functions._

/** Dev smoke main: drives the public API surface end-to-end against the
  * driver's parquet test data — the same calls the driver harness makes.
  * Run: sbt "runMain graft.Smoke /root/testdata/sf0.001"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = GraftSession.cpus
    val spark = GraftSession.start(s"local[$cpus]", cpus)
    import spark.implicits._

    println(s"== entry: ${SparkEntry.entry(spark).count()} rows")

    Tables.registerAll(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
    val emb  = Tables.load(spark, dir, "embeddings")

    val exact = operators.Dedup.exact(docs, "text", "doc_id")
    println(s"== dedup.exact: ${exact.count()} rows, dup groups>1: " +
      exact.filter(col("dup_count") > 1).count())

    val ta = docs.select(col("doc_id"),
      operators.TextAnalysis.tokenCount(col("text")).as("ntok"),
      operators.TextAnalysis.qualityScore(col("text")).as("q"),
      operators.TextAnalysis.langId(col("text")).as("lang_pred"),
      operators.TextAnalysis.simhash60(col("text")).as("sim"))
    ta.show(3, false)

    val topk = operators.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", 5)
    topk.show(15, false)

    // round-6 surface: quantized ANN ladder + model-free text embeddings
    val cws = emb.filter(col("vec_id") % 100 === 0)
    val pq = operators.Similarity.pqTopK(
      emb.filter(col("vec_id") < 3), emb, cws, "vec_id", "embedding",
      k = 3, m = 4, dsub = 16)
    println(s"== pqTopK: ${pq.count()} rows")
    val ivfpq = operators.Similarity.ivfPqTopK(
      emb.filter(col("vec_id") < 3), emb, cws, cws, "vec_id", "embedding",
      k = 3, m = 4, dsub = 16, nProbe = 2)
    println(s"== ivfPqTopK: ${ivfpq.count()} rows")
    val hemb = operators.TextAnalysis.hashEmbed(docs, "doc_id", "text", 64)
    val semantic = operators.Similarity.bruteForceTopK(
      hemb.filter(col("doc_id") < 3), hemb, "doc_id", "embedding", 3)
    println(s"== hashEmbed->topk: ${semantic.count()} rows")

    val sh = operators.Dedup.explodedShingles(docs, "text", "doc_id", 5)
    println(s"== shingles: ${sh.count()}")
    val mh = operators.Dedup.minhash(sh, "doc_id", 16)
    val bands = operators.Dedup.lshBands(mh, "doc_id", 16, 4)
    println(s"== lsh candidates: ${operators.Dedup.lshCandidates(bands, "doc_id").count()}")

    // round-12 surface: the atomic manifest index lifecycle end to end —
    // build → probe → append → compact → vacuum on the BM25 family
    val idxRoot = java.nio.file.Files
      .createTempDirectory("graft_smoke_bm25").toString
    operators.Retrieval.buildIndexM(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idxRoot)
    operators.Retrieval.appendIndexM(
      docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", idxRoot)
    operators.Retrieval.compactIndexM(spark, idxRoot)
    val probed = operators.Retrieval.bm25ProbeM(spark, idxRoot,
      Seq(0 -> "the data of", 1 -> "model training"), 5)
    println(s"== bm25 manifest lifecycle: " +
      s"v${index.IndexManifest.currentVersion(spark, idxRoot)}, " +
      s"probe rows ${probed.count()}, " +
      s"vacuumed ${index.IndexManifest.vacuum(spark, idxRoot, orphanGraceMs = 0)}")

    // CDC side: flatten + projectTo on a nested frame
    val nested = spark.range(3).select(col("id").cast("string").as("_id"),
      struct(lit(1).as("pub"), struct(lit("x").as("y")).as("deep")).as("cfg"),
      array(lit(1), lit(2)).as("tags"))
    val spec = config.TableSpec("t", Seq(
      config.ColumnSpec("cfg.pub", "bigint(20)"),
      config.ColumnSpec("cfg.deep.y", "varchar(100)"),
      config.ColumnSpec("tags", "blob"),
      config.ColumnSpec("missing", "int")))
    val proj = operators.Transforms.projectTo(nested, spec)
    proj.show(false)
    operators.Transforms.flatten(nested).show(false)

    // changelog decode
    val evs = changelog.OplogDecoder.decode(changelog.RawOplog(
      "u", "db.t", 42L, Map("$v" -> 2, "diff" -> Map("u" -> Map("a" -> 1))),
      Some(Map("_id" -> changelog.ObjectId("0123456789abcdef01234567")))), Set("db.t"))
    println(s"== decode: $evs")

    // merge apply
    val base = Seq(("a", 1, "old"), ("b", 2, "keep")).toDF("_id", "v", "s")
    val chg = Seq(("a", "update", 10L, Some(5), None: Option[String]),
                  ("c", "insert", 11L, Some(7), Some("new")),
                  ("b", "delete", 12L, None: Option[Int], None: Option[String]))
      .toDF("_id", "op", "ts", "v", "s")
    sink.MergeApply.applyChanges(base, chg, "_id", "op", Seq(col("ts")), Seq("v", "s"))
      .orderBy("_id").show(false)

    spark.stop()
  }
}
