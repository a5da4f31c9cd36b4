package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame

/** JVM-exit-cleaned temp directories for query fixtures. The m0x multimodal
  * queries persist their generated media through a real parquet BINARY
  * column (that round trip IS part of what they test); without cleanup each
  * invocation leaks one corpus copy per run (3+ per bench). One shutdown
  * hook, one queue — directories are removed recursively at JVM exit.
  */
object FixtureDirs {

  private val dirs = new ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    var bytes = 0L
    var count = 0
    dirs.forEach { root =>
      try {
        Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach { p =>
            if (Files.isRegularFile(p)) bytes += Files.size(p)
            Files.deleteIfExists(p)
          }
        count += 1
      } catch { case _: Exception => () } // best-effort: exit path
    }
    // the reclaimed count makes disk hygiene auditable from any run's
    // stderr (r13): lifecycle rows cut fresh fixture trees per repeat, so
    // a long bench session accumulates gigabytes until this hook fires
    if (count > 0) System.err.println(
      s"[fixtures] reclaimed $bytes bytes across $count fixture dirs at exit")
  }, "graft-fixture-dir-cleanup"))

  /** Create a tracked temp dir (deleted at JVM exit). */
  def create(prefix: String): Path = track(Files.createTempDirectory(prefix))

  /** Create a tracked temp dir under `under` (deleted at JVM exit). */
  def create(prefix: String, under: Path): Path =
    track(Files.createTempDirectory(under, prefix))

  private def track(p: Path): Path = { dirs.add(p); p }

  /** The binary-ingest round trip shared by the m0x fixtures: write the
    * generated media to a throwaway parquet dir, read it back so the query
    * consumes a true parquet BINARY column. NOTE for bench readers: the
    * fixture ENCODE + parquet WRITE cost lands inside the query's measured
    * time but belongs to the fixture, not the operator under test. */
  def parquetRoundTrip(df: DataFrame, prefix: String): DataFrame = {
    val dir = create(prefix).toString
    df.write.mode("overwrite").parquet(dir)
    df.sparkSession.read.parquet(dir)
  }

  /** Built fixture paths by key. The map only ever creates a key's slot;
    * the build runs while holding that slot's monitor, outside every map
    * bin, so a builder may itself use the cache for another key, unrelated
    * keys build concurrently, and racing callers of one key build it once
    * (the loser waits on the monitor, then reads the winner's path). A
    * build that throws leaves the slot empty for the next caller. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicReference[String]]()

  private def once(key: String)(build: => String): String = {
    val slot = cache.computeIfAbsent(key, _ => new AtomicReference[String]())
    slot.synchronized {
      if (slot.get == null) slot.set(build)
      slot.get
    }
  }

  /** Session-lifetime cached [[parquetRoundTrip]]: an m0x fixture is a
    * deterministic function of (query prefix, sf dir), so repeat
    * invocations — bench's median-of-3, a verify run after a bench run —
    * reuse the first invocation's parquet instead of re-encoding and
    * re-writing the media corpus. The first run still pays the fixture
    * cost; the medians then measure the OPERATOR, not the fixture
    * (COVERAGE.md's m04/m06/m07 fixture-cost splits quantified the
    * difference at ~half of each row's time). Cached dirs remain tracked
    * by the exit hook. */
  def cachedRoundTrip(df: DataFrame, prefix: String, sfDir: String): DataFrame = {
    val dir = once(prefix + "|" + sfDir) {
      val d = create(prefix).toString
      df.write.mode("overwrite").parquet(d)
      d
    }
    df.sparkSession.read.parquet(dir)
  }

  /** Session-lifetime cached fixture DIRECTORY, same contract as
    * [[cachedRoundTrip]] but for arbitrary builds (the streaming rows'
    * multi-file micro-batch sources): `build` runs once per
    * (prefix, sfDir); repeats reuse the directory. The built content must
    * be a deterministic function of the key — STREAM SOURCES ONLY; any
    * directory the query MUTATES (checkpoints, sink tables) must stay
    * per-invocation or a repeat would observe the prior run's state. */
  def cachedDir(prefix: String, sfDir: String)(build: Path => Unit): Path =
    Paths.get(once("dir|" + prefix + "|" + sfDir) {
      val d = create(prefix)
      build(d)
      d.toString
    })
}
