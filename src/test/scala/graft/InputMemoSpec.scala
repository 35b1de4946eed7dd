package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import graft.index.IndexManifest
import graft.operators.Similarity
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The process-wide memos of immutable inputs: inferred parquet schemas
  * ([[Tables.parquet]]) and the centroid/codebook refs of committed index
  * snapshots. Job-count pins show what a repeated read or probe no longer
  * pays; staleness pins show that a changed input is always read anew. */
class InputMemoSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  /** Spark jobs `body` starts (its own job group), and its result. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-input-memo-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "input memo")
    val out = try body finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    (out, jobs.get)
  }

  /** A private copy of the sf0.001 embeddings table: a path no other spec
    * has read, so its first read is a miss. */
  private def embeddingsCopy(prefix: String): String = {
    val dir = tempDir(prefix)
    Files.copy(Paths.get(Sf0001, "embeddings.parquet"), Paths.get(dir, "embeddings.parquet"))
    dir
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def queries(dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings").filter(col("vec_id") < 10)

  test("a second Tables.load of an unchanged table runs no job") {
    val dir = embeddingsCopy("graft_memo_load")
    val (first, cold) = jobsOf(Tables.load(spark, dir, "embeddings").schema)
    val (second, warm) = jobsOf(Tables.load(spark, dir, "embeddings").schema)
    assert(cold == 1, "the first load infers the schema in one job")
    assert(warm == 0, s"the second load ran $warm jobs")
    assert(second == first)
    assert(Tables.load(spark, dir, "embeddings").count() ==
      spark.read.parquet(s"$dir/embeddings.parquet").count())
  }

  test("a repeated IndexManifest.readAt of a committed snapshot runs no job") {
    val root = tempDir("graft_memo_readat")
    val segs = Seq.fill(2)(IndexManifest.newSegment("t"))
    segs.zipWithIndex.foreach { case (seg, i) =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").write.parquet(s"$root/$seg")
    }
    IndexManifest.commit(spark, root, Map("t" -> segs))
    val snap = IndexManifest.snapshot(spark, root)
    val (_, cold) = jobsOf(IndexManifest.readAt(spark, root, snap, "t").schema)
    val (df, warm) = jobsOf(IndexManifest.readAt(spark, root, snap, "t"))
    assert(cold == 1)
    assert(warm == 0, s"the repeated readAt ran $warm jobs")
    assert(rows(df) == Seq("[0,v0]", "[1,v1]"))
  }

  // A served probe as the registry's serve queries run it: load the query
  // table, probe the committed index, materialize. The index is built from
  // one copy of the table and probed with another, so the first probe
  // misses every memo — the job count every probe paid before the memos.

  test("a served IVF probe on an unchanged snapshot runs 4 fewer jobs than its first") {
    val emb = Tables.load(spark, embeddingsCopy("graft_memo_ivf_b"), "embeddings")
    val served = embeddingsCopy("graft_memo_ivf_s")
    val root = tempDir("graft_memo_ivf_idx")
    Similarity.buildIvfIndexM(emb, emb.filter(col("vec_id") % 100 === 0),
      "vec_id", "embedding", root)
    def probe() = jobsOf(rows(Similarity.ivfProbeM(queries(served),
      "vec_id", "embedding", k = 5, nProbe = 2, root)))
    val (first, cold) = probe()
    val (again, warm) = probe()
    // the table's schema, the centroid and assignment segments' schemas,
    // the centroid collect
    assert(cold - warm == 4, s"first probe $cold jobs, repeat $warm")
    assert(again == first && first.nonEmpty)
    assert(probe()._2 == warm)
  }

  test("a served PQ probe on an unchanged snapshot runs 4 fewer jobs than its first") {
    val emb = Tables.load(spark, embeddingsCopy("graft_memo_pq_b"), "embeddings")
    val served = embeddingsCopy("graft_memo_pq_s")
    val root = tempDir("graft_memo_pq_idx")
    val cb = Similarity.pqCodebook(emb.filter(col("vec_id") % 100 === 0),
      "vec_id", "embedding", m = 4, dsub = 16)
    Similarity.buildPqIndexM(emb, cb, "vec_id", "embedding", 4, 16, root)
    def probe() = jobsOf(rows(Similarity.pqProbeM(queries(served),
      "vec_id", "embedding", k = 5, m = 4, dsub = 16, root)))
    val (first, cold) = probe()
    val (again, warm) = probe()
    // the table's schema, the code and codebook segments' schemas, the
    // codebook collect
    assert(cold - warm == 4, s"first probe $cold jobs, repeat $warm")
    assert(again == first && first.nonEmpty)
  }

  test("a served IVF-PQ probe on an unchanged snapshot runs 6 fewer jobs than its first") {
    val emb = Tables.load(spark, embeddingsCopy("graft_memo_ivfpq_b"), "embeddings")
    val served = embeddingsCopy("graft_memo_ivfpq_s")
    val root = tempDir("graft_memo_ivfpq_idx")
    val sample = emb.filter(col("vec_id") % 100 === 0)
    val cb = Similarity.pqCodebook(sample, "vec_id", "embedding", m = 4, dsub = 16)
    Similarity.buildIvfPqIndexM(emb, sample, cb, "vec_id", "embedding", 4, 16, root)
    def probe() = jobsOf(rows(Similarity.ivfPqProbeM(queries(served),
      "vec_id", "embedding", k = 5, m = 4, dsub = 16, nProbe = 2, root)))
    val (first, cold) = probe()
    val (again, warm) = probe()
    // the table's, centroids', codebook's and codes' schemas, the centroid
    // and the codebook collects
    assert(cold - warm == 6, s"first probe $cold jobs, repeat $warm")
    assert(again == first && first.nonEmpty)
  }

  test("overwriting a parquet path with another column set is read with the new schema") {
    val base = tempDir("graft_memo_overwrite")
    val p = s"$base/t"
    Seq((1, "a")).toDF("k", "v").write.parquet(p)
    assert(Tables.parquet(spark, p).columns.toSeq == Seq("k", "v"))
    assert(jobsOf(Tables.parquet(spark, p).columns.toSeq)._2 == 0, "not memoized")
    Seq((2L, 3.0, true)).toDF("k", "w", "x").write.mode("overwrite").parquet(p)
    val df = Tables.parquet(spark, p)
    assert(df.schema == spark.read.parquet(p).schema)
    assert(df.collect().toSeq == Seq(Row(2L, 3.0, true)))

    // the same leaf file name, replaced in place by a file of another schema
    def singleFile(df: DataFrame, name: String): java.nio.file.Path = {
      df.coalesce(1).write.parquet(s"$base/$name")
      Files.list(Paths.get(base, name)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
    }
    val a = singleFile(Seq((1, "a")).toDF("k", "v"), "a")
    val b = singleFile(Seq(("b", 2.5)).toDF("s", "d"), "b")
    val same = Paths.get(base, "same")
    Files.createDirectory(same)
    Files.copy(a, same.resolve("part.parquet"))
    assert(Tables.parquet(spark, same.toString).columns.toSeq == Seq("k", "v"))
    Files.copy(b, same.resolve("part.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val replaced = Tables.parquet(spark, same.toString)
    assert(replaced.columns.toSeq == Seq("s", "d"))
    assert(replaced.collect().toSeq == Seq(Row("b", 2.5)))
  }

  test("after an append, compact or refresh commit the next probe misses and equals a fresh index") {
    val dir = embeddingsCopy("graft_memo_ivf_life")
    val emb = Tables.load(spark, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") % 100 === 0)
    val root = tempDir("graft_memo_ivf_life_idx")
    def probeOf(r: String) = Similarity.ivfProbeM(queries(dir),
      "vec_id", "embedding", k = 5, nProbe = 2, r)
    // the same probe over an index built from scratch at a new root: every
    // input it reads is new to the memos
    def fresh(corpus: DataFrame): Seq[String] = {
      val r = tempDir("graft_memo_ivf_fresh")
      Similarity.buildIvfIndexM(corpus, centroids, "vec_id", "embedding", r)
      rows(probeOf(r))
    }
    def afterCommit(expected: Seq[String]): Unit = {
      val (got, first) = jobsOf(rows(probeOf(root)))
      val (_, repeat) = jobsOf(rows(probeOf(root)))
      assert(first > repeat, s"the probe after a commit ran $first jobs, its repeat $repeat")
      assert(got == expected)
    }
    Similarity.buildIvfIndexM(emb.filter(col("vec_id") % 2 === 0), centroids,
      "vec_id", "embedding", root)
    rows(probeOf(root))
    Similarity.appendIvfIndexM(emb, "vec_id", "embedding", root)
    val full = fresh(emb)
    afterCommit(full)
    Similarity.compactIvfIndexM(spark, root)
    afterCommit(full)
    val changed = emb.filter(col("vec_id") % 3 =!= 0)
    Similarity.refreshIvfIndexM(changed, "vec_id", "embedding", root)
    afterCommit(fresh(changed))

    // PQ: the codes table grows, the codebook stays
    val pqRoot = tempDir("graft_memo_pq_life_idx")
    val cb = Similarity.pqCodebook(centroids, "vec_id", "embedding", m = 4, dsub = 16)
    def pqProbeOf(r: String) = Similarity.pqProbeM(queries(dir),
      "vec_id", "embedding", k = 5, m = 4, dsub = 16, r)
    Similarity.buildPqIndexM(emb.filter(col("vec_id") % 2 === 0), cb,
      "vec_id", "embedding", 4, 16, pqRoot)
    rows(pqProbeOf(pqRoot))
    Similarity.appendPqIndexM(emb, "vec_id", "embedding", 4, 16, pqRoot)
    val (got, first) = jobsOf(rows(pqProbeOf(pqRoot)))
    assert(first > jobsOf(rows(pqProbeOf(pqRoot)))._2)
    val pqFresh = tempDir("graft_memo_pq_fresh")
    Similarity.buildPqIndexM(emb, cb, "vec_id", "embedding", 4, 16, pqFresh)
    assert(got == rows(pqProbeOf(pqFresh)))
  }

  test("a missing path still raises Spark's PATH_NOT_FOUND") {
    val base = tempDir("graft_memo_missing")
    val e = intercept[AnalysisException](Tables.parquet(spark, s"$base/never-written"))
    assert(e.getCondition == "PATH_NOT_FOUND")
    // a path read (and memoized) before it was deleted
    val p = s"$base/t"
    Seq(1, 2).toDF("k").write.parquet(p)
    assert(Tables.parquet(spark, p).count() == 2)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
    val gone = intercept[AnalysisException](Tables.parquet(spark, p))
    assert(gone.getCondition == "PATH_NOT_FOUND")
  }
}
