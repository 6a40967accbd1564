package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates

/** The default `file` FileSystem with per-call counters. Installed as
  * `fs.file.impl` for traced runs, so paths keep their `file` scheme and
  * the lake keeps its scheme-keyed commit publisher. Counting is off
  * until [[CountingLocalFs.enabled]] is set; `call` nanos cover the
  * metadata call itself (stream I/O is counted in bytes, not time).
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  private def count[T](c: AtomicLong)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally { c.incrementAndGet(); callNanos.addAndGet(System.nanoTime() - t0) }
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    count(creates)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    count(creates)(super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress))
  override def open(f: Path, bufferSize: Int): FSDataInputStream = count(opens)(super.open(f, bufferSize))
  override def rename(src: Path, dst: Path): Boolean = count(renames)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = count(deletes)(super.delete(f, recursive))
  override def listStatus(f: Path): Array[FileStatus] = count(lists)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = count(stats)(super.getFileStatus(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = count(mkdirsN)(super.mkdirs(f, permission))
  override def mkdirs(f: Path): Boolean = count(mkdirsN)(super.mkdirs(f))
}

object CountingLocalFs {
  @volatile var enabled = false
  val creates, opens, renames, deletes, lists, stats, mkdirsN, callNanos = new AtomicLong
  private val counters = Seq("create" -> creates, "open" -> opens, "rename" -> renames,
    "delete" -> deletes, "list" -> lists, "stat" -> stats, "mkdirs" -> mkdirsN)

  /** Hadoop's own per-scheme byte counters (driver and task threads). */
  private def bytes: (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum)
  }

  /** Every counter at this instant; deltas of two readings give a span's share. */
  def reading(): Map[String, Double] = {
    val (w, r) = bytes
    counters.map { case (k, c) => k -> c.get.toDouble }.toMap ++ Map(
      "bytes_written" -> w.toDouble, "bytes_read" -> r.toDouble,
      "call_ns" -> callNanos.get.toDouble)
  }
}

/** Spark jobs and their task totals, plus the files SQL writes report
  * ("number of written files"). Events are kept in memory while
  * [[enabled]]; jobs are attributed to the benchmark's spans by time
  * after the run, written files to the pass that was current.
  */
class JobListener extends SparkListener {
  @volatile var enabled = false
  @volatile var pass = 0

  final class Job(val id: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
    val tasks, cpuNs, shuffleWrite, input, output, spill = new AtomicLong
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** (pass, files written) per SQL write. */
  val fileWrites = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    jobs.put(e.jobId, new Job(e.jobId, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
      j.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.input.addAndGet(m.inputMetrics.bytesRead)
        j.output.addAndGet(m.outputMetrics.bytesWritten)
        j.spill.addAndGet(m.diskBytesSpilled)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerDriverAccumUpdates if enabled =>
      val n = u.accumUpdates.collect {
        case (id, v) if org.apache.spark.PerfbenchBus.accumName(id).contains("number of written files") => v
      }.sum
      if (n > 0) fileWrites.add((pass, n))
    case _ =>
  }
}

/** One timed call the benchmark made: its clock interval and, on traced
  * passes, the FS counter readings at both ends.
  */
final case class Span(pass: Int, kind: String, name: String, group: String,
                      startMs: Long, endMs: Long, wallNs: Long, ok: Boolean,
                      fsBefore: Map[String, Double], fsAfter: Map[String, Double])
