package graft.merge

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, FileIndex,
  FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory, WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType}

/** The one way a [[LogTable]] writes and reads data files. Writes: Spark's
  * `FileFormatWriter` runs the frame's physical plan and writes each
  * parquet file ONCE, under its final name in the table's `files/` dir —
  * Delta's `TransactionalWrite` (a `DelayedCommitProtocol` plus a
  * write-side statistics tracker). No staging dir, no task or job rename,
  * no `_SUCCESS`, no `.crc`, and no read-back of the written files: the row
  * counts and min/max stats the manifest records are taken by the write
  * tasks as they write each row. Reads: the files the log names, through a
  * file index built from those names — nothing is listed.
  */
private[merge] object LogFiles {

  /** `names` under `dir`, read with `schema` as the read schema. Each file
    * costs one stat on the driver. `spark.read.parquet(paths)` would list
    * the paths instead, and for more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
    * that listing is a Spark job of its own. */
  def read(spark: SparkSession, dir: Path, names: Seq[String], schema: StructType): DataFrame = {
    val files = names.map { n =>
      val p = dir.resolve(n)
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      new FileStatus(a.size, false, 1, 32L << 20, a.lastModifiedTime.toMillis, new HPath(p.toUri))
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(ListedFiles(files), new StructType,
      nullable(schema).asInstanceOf[StructType], None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** `t` with every field, element and value nullable, as a file source's
    * read schema always is: a column that a file lacks reads as null. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** A file index that is a fixed list of files, all in one unpartitioned
    * directory. Equal lists give equal indexes, so equal reads share a
    * cached plan as `InMemoryFileIndex` reads of the same paths do. */
  private final case class ListedFiles(files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[HPath] = files.map(_.getPath)
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.map(FileStatusWithMetadata(_))))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType
  }

  /** One written file: name under the files dir, bucket (-1 = none), its
    * row count, and (min, max) per stats column as strings — absent for a
    * column with no non-null value in the file. */
  final case class Written(name: String, bucket: Int, rows: Long,
                           stats: Map[String, (String, String)])

  /** Write `df` into `dir`. A column named `partitionCol` (the bucket id)
    * becomes the file's bucket and is not stored; the plan must already be
    * sorted on it, so the writer adds no sort of its own. Names are
    * `<prefix><uuid>-part-NNNNN-cNNN.snappy.parquet`, where NNNNN is the
    * write task's partition index (the row-id allocation order). */
  def write(df: DataFrame, dir: String, prefix: String, partitionCol: String,
            statsCols: Seq[String]): Seq[Written] = {
    val qe = df.queryExecution
    val session = qe.sparkSession
    SQLExecution.withNewExecutionId(qe, Some(s"LogTable write $dir")) {
      val plan = qe.executedPlan
      val part = plan.output.filter(_.name == partitionCol)
      val data = plan.output.filterNot(part.contains)
      val tracker = new FileStatsTracker(statsCols.map { c =>
        val i = data.indexWhere(_.name == c)
        (c, i, data(i).dataType)
      }, session.sessionState.conf.sessionLocalTimeZone)
      val committer = new DirectCommitProtocol(dir, prefix)
      FileFormatWriter.write(session, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, plan.output),
        session.sessionState.newHadoopConf(), part, None, Seq(tracker), Map.empty)
      committer.committed.toSeq.map { case (name, bucket) =>
        val (rows, stats) = tracker.files.getOrElse(name, (0L, Map.empty[String, (String, String)]))
        Written(name, bucket, rows, stats)
      }
    }
  }

  private def crcOf(dir: String, name: String) = Paths.get(dir, s".$name.crc")

  /** Names each file in `dir` directly. The task commit message is the
    * task's (name, bucket) pairs, read off the partition dir Spark asks
    * for (`__bucket=N`); the checksummed local file system's `.crc`
    * siblings are deleted at task commit. A failed task deletes what it
    * wrote; a failed job deletes what its committed tasks wrote. */
  private final class DirectCommitProtocol(dir: String, prefix: String)
      extends FileCommitProtocol with Serializable {
    @transient private var written: mutable.ArrayBuffer[(String, Int)] = _
    @transient val committed = mutable.ArrayBuffer.empty[(String, Int)]

    override def setupJob(job: JobContext): Unit = ()
    override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit = ()
    override def abortJob(job: JobContext): Unit = committed.foreach { case (n, _) =>
      Files.deleteIfExists(Paths.get(dir, n))
    }
    override def onTaskCommit(msg: TaskCommitMessage): Unit =
      committed ++= msg.obj.asInstanceOf[Seq[(String, Int)]]

    override def setupTask(ctx: TaskAttemptContext): Unit =
      written = mutable.ArrayBuffer.empty
    override def newTaskTempFile(ctx: TaskAttemptContext, partDir: Option[String],
                                 spec: FileNameSpec): String = {
      val split = ctx.getTaskAttemptID.getTaskID.getId
      val uuid = java.util.UUID.randomUUID().toString.take(12)
      val name = f"$prefix$uuid-${spec.prefix}part-$split%05d${spec.suffix}"
      written += name -> partDir.map(d => d.substring(d.indexOf('=') + 1).toInt).getOrElse(-1)
      Paths.get(dir, name).toString
    }
    override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
      written.foreach { case (n, _) => Files.deleteIfExists(crcOf(dir, n)) }
      new TaskCommitMessage(written.toSeq)
    }
    override def abortTask(ctx: TaskAttemptContext): Unit = written.foreach { case (n, _) =>
      Files.deleteIfExists(Paths.get(dir, n)); Files.deleteIfExists(crcOf(dir, n))
    }
  }

  private final case class FileStats(files: Map[String, (Long, Map[String, (String, String)])])
      extends WriteTaskStats

  /** Per-file row counts and the (min, max) of `cols` (name, ordinal among
    * the written columns, type), taken row by row in the write task. Values
    * compare under Spark's own ordering (NaN greatest, as `max` has it) and
    * render through `Cast(_, StringType, zone)`, so each string is the one
    * `min(c).cast("string")` / `max(c).cast("string")` gives over the file's
    * rows, for every type, INT96 timestamps and decimals included. */
  private final class FileStatsTracker(cols: Seq[(String, Int, DataType)], zone: String)
      extends WriteJobStatsTracker {
    @transient var files: Map[String, (Long, Map[String, (String, String)])] = Map.empty

    override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
      private val order = cols.map(c => TypeUtils.getInterpretedOrdering(c._3)).toArray
      private final class Acc(var rows: Long, val lo: Array[Any], val hi: Array[Any])
      private val accs = mutable.LinkedHashMap.empty[String, Acc]
      private def name(path: String) = path.substring(path.lastIndexOf('/') + 1)

      override def newPartition(values: InternalRow): Unit = ()
      override def newFile(path: String): Unit =
        accs(name(path)) = new Acc(0L, new Array[Any](cols.size), new Array[Any](cols.size))
      override def closeFile(path: String): Unit = ()
      override def newRow(path: String, row: InternalRow): Unit = {
        val a = accs(name(path))
        a.rows += 1
        var i = 0
        while (i < order.length) {
          val (_, ord, dt) = cols(i)
          if (!row.isNullAt(ord)) {
            val v = row.get(ord, dt)
            if (a.lo(i) == null || order(i).lt(v, a.lo(i))) a.lo(i) = InternalRow.copyValue(v)
            if (a.hi(i) == null || order(i).gt(v, a.hi(i))) a.hi(i) = InternalRow.copyValue(v)
          }
          i += 1
        }
      }
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
        def render(v: Any, dt: DataType): String =
          Cast(Literal(v, dt), StringType, Some(zone), EvalMode.LEGACY).eval().toString
        FileStats(accs.map { case (n, a) =>
          n -> (a.rows, cols.indices.collect { case i if a.lo(i) != null =>
            cols(i)._1 -> (render(a.lo(i), cols(i)._3), render(a.hi(i), cols(i)._3))
          }.toMap)
        }.toMap)
      }
    }

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      files = stats.flatMap { case FileStats(f) => f }.toMap
  }
}
