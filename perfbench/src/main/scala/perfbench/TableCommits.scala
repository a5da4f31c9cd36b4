package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.merge.{LogTable, Merge}

/** `table-commits`: one client in a closed loop against one bucketed
  * `LogTable` shaped like heart-rate data (16 buckets on `device_id`, file
  * stats on `time`). The mix runs in blocks that carry the table verbs of
  * one medallion set in the same ratio: per set `graft.streaming.Medallion`
  * makes 3 appends (the Bronze sinks), 9 merges (the five Silver wave-1
  * upserts, the three of waves 2–3 and Gold's) and 8 full-table reads
  * (waves 2–3 and Gold), so a block is 1 append, 3 CDC merges
  * (`Merge.cdcUpsert`) and 3 reads — 2 `readRange` and a `readVersion`,
  * each from a freshly opened handle. The pipeline never deletes or
  * compacts; a block adds one `deleteWhere` and ends with a `compact` (the
  * reference runs with auto-compaction on) so that those verbs are timed
  * too. The order within a block is fixed and the data seeded; a run is one
  * block per 15 s of `--seconds`. Writes and reads hit the same table.
  * Every write and read is checked against an in-memory model of the table:
  * deletes by the rows they report, reads by exact sums over every column,
  * `readVersion` against the model as of that version. */
final class TableCommits extends Workload {
  import TableCommits._
  val name = "table-commits"

  def prepare(ctx: RunCtx): Unit = ()

  def run(ctx: RunCtx, out: Outcome): Unit = {
    val t = new Client(ctx.spark, ctx.work.resolve("commits"), ctx.tracer)
    t.load()
    // a fixed order, reads between writes: the first op of each kind pays
    // for compiling its code path, and a seeded order moved that cost
    // between kinds from run to run
    val block = Seq("append", "merge", "range_read", "merge", "time_travel", "delete",
      "merge", "range_read", "compact")
    val rng = new SplittableRandom(ctx.seed)
    // the block count follows from the run length alone, so every run on
    // every machine does the same work
    val blocks = math.max(1, math.round(ctx.seconds / BlockSeconds).toInt)
    val first = out.ops.size
    val t0 = System.nanoTime()
    for (_ <- 1 to blocks) {
      block.foreach { kind =>
        val (took, problem) = t.step(kind, rng)
        problem.foreach(p => out.fail(s"$kind: $p"))
        out.op(kind, took, problem.isEmpty)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // the final table is what every write of the run built
    val problems = t.finalCheck()
    problems.foreach(p => out.fail(s"final: $p"))
    if (problems.nonEmpty) out.failOps(first, Set("append", "merge", "delete", "compact"))
    val mine = out.ops.drop(first)
    out.work(mine.size)
    def p50(kinds: String*): Double =
      Stats.median(mine.filter(o => kinds.contains(o.kind)).map(_.took.wall).toSeq) * 1000
    out.detail("commits.append_p50_ms", p50("append"), "ms")
    out.detail("commits.merge_p50_ms", p50("merge"), "ms")
    out.detail("commits.read_p50_ms", p50("range_read", "time_travel"), "ms")
    out.detail("commits.ops_per_s", mine.size / wall, "ops/s")
    out.detail("commits.blocks", blocks, "count")
    out.detail("commits.final_rows", t.model.size, "rows")
    Main.log(f"${mine.size} ops in $wall%.1f s")
    if (ctx.tracer.enabled) {
      Seq("append", "merge", "delete", "compact", "range_read", "time_travel").foreach { k =>
        out.layer(s"merge.${k}_ms", p50(k))
      }
      out.layer("merge.snapshot_open_ms", Stats.median(
        ctx.tracer.spans.filter(_.name == "open").map(_.seconds * 1000).toSeq))
      out.layer("merge.files_written_per_commit", t.filesWritten.toDouble / t.commits)
      out.layer("merge.bytes_written_per_input_byte", t.bytesWritten.toDouble / t.inputBytes)
      out.layer("merge.live_files", t.table.liveFileNames().size.toDouble)
    }
  }

  /** A fixed sequence on a fresh table: two appends, a merge, a range read
    * and a time-travel read. */
  def probe(ctx: RunCtx): Double = {
    val t = new Client(ctx.spark, ctx.work.resolve(s"probe-${System.nanoTime()}"), ctx.tracer)
    val rng = new SplittableRandom(7L)
    Took.time {
      Seq("append", "append", "merge", "range_read", "time_travel").foreach { k =>
        val (_, problem) = t.step(k, rng)
        require(problem.isEmpty, s"probe $k: ${problem.get}")
      }
    }._2.wall
  }
}

object TableCommits {
  val Schema: StructType =
    StructType.fromDDL("device_id bigint, time timestamp, heartrate double, rev bigint")
  val Devices = 100
  /** Nominal seconds of one block of the mix. */
  val BlockSeconds = 15.0
  /** Bytes of user data per row: four 8-byte values. */
  val RowBytes = 32L
  private val T0 = FitbitSets.Base

  /** Exact sums over every column; a read must reproduce the model's. */
  final case class Digest(rows: Long, devices: Long, times: Long, hr10: Long, revs: Long)

  def digestOf(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("device_id")), lit(0L)),
      coalesce(sum(unix_seconds(col("time"))), lit(0L)),
      coalesce(sum(round(col("heartrate") * 10).cast("long")), lit(0L)),
      coalesce(sum(col("rev")), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  /** The client: the table, its model and the operations of the mix. Keys are
    * (device, second); the model maps a key to (heartrate × 10, rev). */
  final class Client(spark: SparkSession, dir: Path, tr: Tracer) {
    import spark.implicits._
    private val path = dir.resolve("table").toString
    private def open() = new LogTable(spark, path, Schema,
      bucketBy = Some((Seq("device_id"), 16)), statsBy = Seq("time"))
    val table: LogTable = open()
    val model = mutable.HashMap.empty[(Long, Long), (Long, Long)]
    private val nextTime = Array.fill(Devices)(0L)
    private val versions = mutable.HashMap.empty[Long, Digest]
    private var rev = 0L
    var commits = 0L
    var filesWritten = 0L
    var bytesWritten = 0L
    var inputBytes = 0L
    private val filesDir = Files.createDirectories(dir.resolve("table").resolve("files"))

    private def modelDigest(keep: ((Long, Long)) => Boolean = _ => true): Digest = {
      var d = Digest(0, 0, 0, 0, 0)
      model.foreach { case (k @ (dev, t), (hr, rv)) =>
        if (keep(k)) d = Digest(d.rows + 1, d.devices + dev, d.times + T0 + t, d.hr10 + hr, d.revs + rv)
      }
      d
    }

    private def frame(rows: Seq[((Long, Long), (Long, Long))]): DataFrame =
      rows.map { case ((dev, t), (hr, rv)) =>
        (dev, new java.sql.Timestamp((T0 + t) * 1000), hr / 10.0, rv)
      }.toDF("device_id", "time", "heartrate", "rev")

    private def fresh(rng: SplittableRandom, n: Int): Seq[((Long, Long), (Long, Long))] =
      (0 until n).map { _ =>
        val dev = rng.nextInt(Devices)
        val t = nextTime(dev); nextTime(dev) += 1
        ((dev.toLong, t), (350L + rng.nextInt(1300), rev))
      }

    /** Initial content: 200 seconds of readings from every device. */
    def load(): Unit = {
      val rows = for (dev <- 0 until Devices; t <- 0 until 200)
        yield ((dev.toLong, t.toLong), (600L + (dev * 7 + t) % 900, 0L))
      (0 until Devices).foreach(d => nextTime(d) = 200)
      table.append(frame(rows))
      model ++= rows
      versions(table.currentVersion) = modelDigest()
    }

    private def dirStats(): (Long, Long) = {
      val files = Files.list(filesDir).iterator()
      var n = 0L; var bytes = 0L
      while (files.hasNext) { val f = files.next(); n += 1; bytes += Files.size(f) }
      (n, bytes)
    }

    /** Run one operation; returns its time and what its check found. */
    def step(kind: String, rng: SplittableRandom): (Took, Option[String]) = {
      rev += 1
      val before = if (tr.enabled) dirStats() else (0L, 0L)
      var problem: Option[String] = None
      var commit = true
      var took = Took(0, 0)
      def timed[T](body: => T): T = {
        val (r, t) = Took.time(tr.span("workload", kind)(tr.span("merge", kind)(body)))
        took = t
        r
      }
      kind match {
        case "append" =>
          val rows = fresh(rng, 200 + rng.nextInt(1801))
          val df = frame(rows)
          timed(table.append(df))
          model ++= rows
          inputBytes += rows.size * RowBytes
        case "merge" =>
          val keys = model.keysIterator.toIndexedSeq
          val updates = FitbitSets.shuffled(rng, keys.size).take(400).map { i =>
            keys(i) -> (350L + rng.nextInt(1300), rev)
          }
          val rows = updates ++ fresh(rng, 100)
          val df = frame(rows)
          timed(table.merge(df)((cur, b) =>
            Merge.cdcUpsert(cur, b, Seq("device_id", "time"), "rev")))
          model ++= rows
          inputBytes += rows.size * RowBytes
        case "delete" =>
          val dev = rng.nextInt(Devices).toLong
          val lo = rng.nextInt(math.max(1, nextTime(dev.toInt).toInt)).toLong
          val hi = lo + 60
          val cond = col("device_id") === dev &&
            col("time").between(new java.sql.Timestamp((T0 + lo) * 1000),
              new java.sql.Timestamp((T0 + hi) * 1000))
          val n = timed(table.deleteWhere(cond))
          val gone = model.keysIterator.filter { case (d, t) => d == dev && t >= lo && t <= hi }.toSeq
          if (n != gone.size) problem = Some(s"deleted $n rows, model has ${gone.size}")
          model --= gone
          commit = n > 0
        case "compact" =>
          commit = timed(table.compact()) > 0
        case "range_read" =>
          commit = false
          val span = nextTime.max
          val lo = rng.nextInt(span.toInt).toLong
          val hi = lo + span / 10
          val got = timed {
            val h = tr.span("merge", "open") { val h = open(); h.currentVersion; h }
            digestOf(h.readRange("time", lit(new java.sql.Timestamp((T0 + lo) * 1000)),
              lit(new java.sql.Timestamp((T0 + hi) * 1000))))
          }
          val want = modelDigest { case (_, t) => t >= lo && t <= hi }
          if (got != want) problem = Some(s"range [$lo, $hi]: got $got, want $want")
        case "time_travel" =>
          commit = false
          val vs = versions.keys.toIndexedSeq.sorted
          val v = vs(rng.nextInt(vs.size))
          val got = timed {
            val h = tr.span("merge", "open") { val h = open(); h.currentVersion; h }
            digestOf(h.readVersion(v))
          }
          if (got != versions(v)) problem = Some(s"version $v: got $got, want ${versions(v)}")
      }
      if (commit) {
        commits += 1
        versions(table.currentVersion) = modelDigest()
        if (tr.enabled) {
          val after = dirStats()
          filesWritten += after._1 - before._1
          bytesWritten += after._2 - before._2
        }
      }
      (took, problem)
    }

    /** The whole live table, and the oldest retained version, against the model. */
    def finalCheck(): Seq[String] = {
      val live = digestOf(open().read())
      val want = modelDigest()
      val v = versions.keys.min
      val old = digestOf(open().readVersion(v))
      Seq(if (live != want) Some(s"live table: got $live, want $want") else None,
        if (old != versions(v)) Some(s"version $v: got $old, want ${versions(v)}") else None)
        .flatten
    }
  }
}
