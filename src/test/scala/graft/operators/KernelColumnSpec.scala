package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Native kernels enter a plan as typed columns, not by function name: the
  * kernel operators run on a session nobody installed graft into, give
  * the rows they give on the fully installed test session, and leave that
  * session's function registry as they found it. */
class KernelColumnSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("kernel operators run on a fresh session and register no function there") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("graft_cosine"))
    def emb(s: SparkSession) =
      s.read.parquet(s"$Sf0001/embeddings.parquet").select("vec_id", "embedding")
    def docs(s: SparkSession) =
      s.read.parquet(s"$Sf0001/documents.parquet").select("doc_id", "text")
    val cases: Seq[(String, SparkSession => DataFrame)] = Seq(
      "cosineNative" -> { s =>
        val e = emb(s).filter(col("vec_id") < 20)
        e.as("a").crossJoin(e.as("b")).select(col("a.vec_id"), col("b.vec_id"),
          round(Similarity.cosineNative(col("a.embedding"), col("b.embedding")), 6))
      },
      "bruteForceTopK" -> { s =>
        Similarity.bruteForceTopK(emb(s).filter(col("vec_id") % 50 === 0), emb(s),
          "vec_id", "embedding", k = 3)
      },
      "sq8TopK" -> { s =>
        Similarity.sq8TopK(emb(s).filter(col("vec_id") % 50 === 0), emb(s),
          "vec_id", "embedding", k = 3)
      },
      "repeatedSpans" -> { s =>
        Dedup.repeatedSpans(docs(s), "doc_id", "text", gramChars = 24)
      })
    cases.foreach { case (name, build) =>
      val got = rows(build(fresh))
      assert(got.nonEmpty, name)
      assert(got == rows(build(spark)), name)
    }
    assert(!fresh.catalog.functionExists("graft_cosine"))
    assert(spark.catalog.functionExists("graft_cosine"))
  }
}
