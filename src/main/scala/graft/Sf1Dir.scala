package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Dev tool: materialize a persisted 10× replica of an sf dir (every table)
  * for scaling runs. Usage: Sf1Dir <sfDir> <outDir>, on `SPARK_GRAFT_CPUS`
  * cores (default 4).
  *
  * The construction keeps the scaling honest (10 independent copies of the
  * problem, not 10× the occupancy of one):
  *   - key-shifted replicas keep every join and blocking key disjoint across
  *     replicas; dimensions (region/nation) stay single-copy so foreign keys
  *     remain valid;
  *   - dates and event times are NOT shifted, so date-filtered scans keep
  *     their selectivity (filters pass 10× the rows — density scaling);
  *   - documents get word-prefixed replicas (zero cross-replica shingles);
  *   - embeddings get per-(dim, replica) murmur sign masks, so cross-replica
  *     cosine is random, and shifted labels (v01's blocking dimension).
  * Each table lands as ONE file named `<table>.parquet`, the layout the
  * streaming sources glob. */
object Sf1Dir {
  val Replicas = 10

  /** Replica k adds k × shift to each named key column. */
  private val keyShifts: Seq[(String, Map[String, Long])] = Seq(
    "customer" -> Map("c_custkey" -> 10000000L),
    "supplier" -> Map("s_suppkey" -> 10000000L),
    "part" -> Map("p_partkey" -> 10000000L),
    "orders" -> Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L),
    "lineitem" -> Map("l_orderkey" -> 100000000L,
      "l_partkey" -> 10000000L, "l_suppkey" -> 10000000L),
    "events" -> Map("event_id" -> 100000000L, "user_id" -> 1000000L))

  def write(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val out = Files.createDirectories(Paths.get(outDir))
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = graft.queries.FixtureDirs.create("sf1gen-")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Using.resource(Files.list(tmp))(
        _.filter(_.toString.endsWith(".parquet")).findFirst().get())
      Files.move(part, out.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      println(s"[sf1dir] wrote $name")
    }
    def replicated(replica: Int => DataFrame): DataFrame =
      (0 until Replicas).map(replica).reduce(_ unionByName _)

    Seq("region", "nation").foreach(n => writeOne(Tables(spark, sfDir, n), n))
    keyShifts.foreach { case (name, shifts) =>
      val base = Tables(spark, sfDir, name)
      writeOne(replicated(k => base.select(base.columns.toIndexedSeq.map(c =>
        shifts.get(c).fold(col(c))(s => (col(c) + lit(k.toLong * s)).as(c))): _*)), name)
    }
    val docs = Tables.documents(spark, sfDir)
    writeOne(replicated(k =>
      docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"),
        col("lang"), concat(lit(s"r$k"), col("source")).as("source"),
        col("n_chars"))), "documents")
    val emb = Tables.embeddings(spark, sfDir)
    writeOne(replicated { k =>
      // A fixed mask such as (i + 7k) % 10 < 5 leaves replicas at mask
      // offset ±1 with twin cosine ≈ +0.6, above the organic neighbour
      // range, so every vector's top-3 truth becomes its replica twins.
      // A murmur-hash mask makes twin cosine a ±x_i² random sum (0 ± ~0.17
      // at D=64). Replica 0 stays verbatim so sf0.1 results carry over.
      val masked = transform(col("embedding"),
        (x, i) => if (k == 0) x
                  else when(pmod(hash(i, lit(k)), lit(2)) === 0, x).otherwise(-x))
      emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
        masked.as("embedding"), (col("label") + lit(k * 100000)).as("label"))
    }, "embeddings")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Sf1Dir <sfDir> <outDir>")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    try write(spark, args(0), args(1)) finally spark.stop()
  }
}
