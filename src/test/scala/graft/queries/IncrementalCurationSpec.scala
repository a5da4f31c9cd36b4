package graft.queries

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[IncrementalCuration]] (d54): the reference's two-set replay contract —
  * re-deliver OVERLAPPING data, the pipeline output must equal a
  * from-scratch run over the union, and re-deliveries must no-op. */
class IncrementalCurationSpec extends SparkSpec {

  private def byte(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 2), 16, 10).cast("int")

  private lazy val docs = spark.read.parquet(s"$sf001/documents.parquet")
    .select(col("doc_id"), col("source"), col("text"))
  private lazy val corpus = docs.filter(byte(col("doc_id")) < 250)
  private lazy val bench = docs.filter(byte(col("doc_id")) >= 250)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def freshPipe(): IncrementalCuration = {
    val p = new IncrementalCuration(spark,
      Files.createTempDirectory("inc-cur-").toString)
    p.freezeBench(bench)
    p
  }

  test("two overlapping deliveries refresh to the from-scratch d49 selection") {
    val pipe = freshPipe()
    val n1 = pipe.ingest(corpus.filter(col("doc_id") % 10 < 7))
    val n2 = pipe.ingest(corpus.filter(col("doc_id") % 10 >= 5))
    val set2Total = corpus.filter(col("doc_id") % 10 >= 5).count()
    assert(n2 < set2Total, "fixture must actually overlap (ids % 10 in {5,6})")
    assert(n1 + n2 == corpus.count(), "deliveries must cover the union once")
    // from-scratch reference: the registered d49 over the same sf dir —
    // bit-for-bit, doubles included (same float expressions both paths)
    assert(rows(pipe.select(100)) == rows(TextQueries.d49.spark(spark, sf001)))
  }

  test("full re-delivery of an ingested set no-ops: stores and selection unchanged") {
    val pipe = freshPipe()
    pipe.ingest(corpus.filter(col("doc_id") % 10 < 7))
    pipe.ingest(corpus.filter(col("doc_id") % 10 >= 5))
    val before = rows(pipe.select(100))
    val nRedelivered = pipe.ingest(corpus.filter(col("doc_id") % 10 >= 5))
    assert(nRedelivered == 0, "a full re-delivery must ingest zero new docs")
    assert(rows(pipe.select(100)) == before,
      "re-delivery must not change the selection (at-least-once safety)")
  }

  test("overlapping docs are counted once in the stored LM partials") {
    // structural pin behind the score-equality test: the stored bigram
    // relation must equal a one-shot tokenization of the union — a
    // double-counted overlap would inflate it (and shift every score)
    val root = Files.createTempDirectory("inc-cur-bg-").toString
    val p = new IncrementalCuration(spark, root)
    p.freezeBench(bench)
    p.ingest(corpus.filter(col("doc_id") % 10 < 7))
    p.ingest(corpus.filter(col("doc_id") % 10 >= 5))
    assert(spark.read.format("graft-logtable").load(s"$root/bg").count() ==
      TextQueries.lmBigrams(corpus).count(),
      "stored bigram rows must match a one-shot tokenization of the union")
  }
}
