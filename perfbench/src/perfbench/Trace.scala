package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Work the executors did for one span, summed over its tasks. */
final class TaskWork {
  var jobs = 0L
  var tasks = 0L
  var recordsRead = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def add(o: TaskWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; recordsRead += o.recordsRead
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** One timed call into a layer. `parent` is the span that was open when
  * this one started (-1 at the root). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    work: TaskWork) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the library. Spark jobs are tied
  * to the innermost open span through a local property that the jobs
  * inherit; a listener sums each job's task metrics into that span. Spans
  * stay in memory until [[write]]. */
final class Tracer(spark: SparkSession) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val work = mutable.Map.empty[Int, TaskWork]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { s =>
        val id = s.toInt
        work.getOrElseUpdate(id, new TaskWork).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = work.getOrElseUpdate(id, new TaskWork)
        w.tasks += 1
        w.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        w.inputBytes += m.inputMetrics.bytesRead
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
      }
    }
  }
  sc.addSparkListener(listener)

  /** Runs `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = open.headOption.getOrElse(-1)
    val saved = sc.getLocalProperty(Key)
    open = id :: open
    sc.setLocalProperty(Key, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Key, saved)
      open = open.tail
      PerfbenchBus.drain(sc)
      val w = listener.synchronized(work.remove(id).getOrElse(new TaskWork))
      done += Span(id, name, parent, t0, t1, w)
    }
  }

  /** Spans whose name is `name`, or starts with `name` followed by `:`. */
  def named(name: String): Seq[Span] =
    done.toSeq.filter(s => s.name == name || s.name.startsWith(name + ":"))

  /** Seconds of `name` spans, summed. */
  def seconds(name: String): Double = named(name).map(_.seconds).sum

  /** Task work of `name` spans, summed. */
  def work(name: String): TaskWork = {
    val w = new TaskWork
    named(name).foreach(s => w.add(s.work))
    w
  }

  /** Writes every span as one JSON line, self time included: a span's
    * duration minus the part its child spans cover. */
  def write(path: Path): Unit = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    val lines = done.sortBy(_.startNs).map { s =>
      val self = (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9
      Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
        "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs),
        "s" -> Json.num(s.seconds), "self_s" -> Json.num(self),
        "jobs" -> Json.num(s.work.jobs), "tasks" -> Json.num(s.work.tasks),
        "records_read" -> Json.num(s.work.recordsRead), "input_bytes" -> Json.num(s.work.inputBytes),
        "shuffle_bytes" -> Json.num(s.work.shuffleBytes), "spill_bytes" -> Json.num(s.work.spillBytes)))
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  def close(): Unit = sc.removeSparkListener(listener)
}
