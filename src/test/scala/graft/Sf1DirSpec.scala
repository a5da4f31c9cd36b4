package graft

import org.apache.spark.sql.functions._

/** The 10× replica world ([[Sf1Dir]]) keeps its scaling contract: every
  * replicated table holds exactly 10× the rows with its shifted keys
  * disjoint across replicas, dimensions stay single-copy, and replica 0 of
  * the embeddings is the source verbatim. */
class Sf1DirSpec extends SparkSpec {
  private lazy val out = {
    val d = graft.queries.FixtureDirs.create("sf1dir-spec-")
    Sf1Dir.write(spark, sf001, d.toString)
    d.toString
  }
  private def src(t: String) = graft.sources.Tables(spark, sf001, t)
  private def rep(t: String) = graft.sources.Tables(spark, out, t)

  test("replicated tables hold exactly 10x the rows, region/nation 1x") {
    for (t <- graft.sources.Tables.names) {
      val want = if (Set("region", "nation")(t)) 1 else Sf1Dir.Replicas
      assert(rep(t).count() == want * src(t).count(), t)
    }
  }

  test("shifted keys are disjoint across replicas") {
    for ((t, key) <- Seq("orders" -> "o_orderkey", "customer" -> "c_custkey",
        "documents" -> "doc_id", "embeddings" -> "vec_id", "embeddings" -> "label")) {
      val distinct = (df: org.apache.spark.sql.DataFrame) =>
        df.select(key).distinct().count()
      assert(distinct(rep(t)) == Sf1Dir.Replicas * distinct(src(t)), s"$t.$key")
    }
  }

  test("replica 0 of embeddings is the source vectors byte for byte") {
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().map { r =>
        (r.getLong(0), r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits),
          r.get(2))
      }.toSeq
    val maxId = src("embeddings").agg(max("vec_id")).head().getLong(0)
    assert(maxId < 1000000L, "replica 0 must be selectable by vec_id")
    val r0 = rep("embeddings").filter(col("vec_id") <= maxId)
      .select("vec_id", "embedding", "label")
    assert(bits(r0) == bits(src("embeddings").select("vec_id", "embedding", "label")))
  }
}
