package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One timed call to a module's public function. Spans of one pass share
  * `pass`; `parent` is the enclosing span on the same thread (the pass root
  * for calls made on pool threads). Times are epoch milliseconds with
  * sub-millisecond precision, comparable with Spark's job timestamps. */
final case class Span(id: Long, pass: Int, name: String, parent: Long,
                      startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder. Spans are only collected here and written out
  * once, at the end of the run. */
final class Tracer {
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  @volatile private var root = 0L
  @volatile var pass = 0

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** Time `body` as span `name`, nested under the caller's open span. */
  def span[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(root)
    val t0 = nowMs
    stack.set(id :: stack.get)
    try body finally {
      stack.set(stack.get.tail)
      spans.add(Span(id, pass, name, parent, t0, nowMs))
    }
  }

  /** Open the root span of pass `p`; calls on other threads hang off it. */
  def passSpan[A](p: Int)(body: => A): A = {
    pass = p
    span("pass") {
      root = stack.get.head
      try body finally root = 0L
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
  def of(pass: Int): Seq[Span] = all.filter(_.pass == pass)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      f"""{"id":${s.id},"pass":${s.pass},"name":"${s.name.replace("\"", "'")}",""" +
      f""""parent":${s.parent},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Benchmark-owned SparkListener: attributes every job to the module of its
  * call-site file (`count at Transfer.scala:367` → `transfer`) and sums its
  * tasks' counters per module. */
final class LayerListener(fileModule: String => String) extends SparkListener {

  final class Counters {
    var jobs = 0L; var tasks = 0L; var taskMs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var recordsRead = 0L
    var bytesWritten = 0L
  }
  final case class Job(id: Int, site: String, module: String, method: String,
                       startMs: Long, var endMs: Long = -1L, var tasks: Long = 0L)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val executionSite = new ConcurrentHashMap[Long, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val counters = new ConcurrentHashMap[String, Counters]()

  def counter(module: String): Counters = counters.computeIfAbsent(module, _ => new Counters)
  def jobList: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)

  // a SQL execution's description is the call site of its action; jobs that
  // adaptive execution submits from its own threads carry only the execution
  // id, and a call site inside those threads
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSite.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executionSite.get(id.toLong)))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("")
    // "method at File.scala:123"
    val (method, file) = site.split(" at ", 2) match {
      case Array(m, f) => (m.trim, f.split(':')(0).trim)
      case _ => ("", "")
    }
    val module = fileModule(file)
    jobs.put(e.jobId, Job(e.jobId, site, module, method, e.time))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    counter(module).synchronized { counter(module).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    val c = counter(job.map(_.module).getOrElse("other"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      job.foreach(_.tasks += 1)
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
}

object LayerListener {
  /** Map each source file name to its module: the directory under `graft/`
    * of the program (`ops`, `transfer`, ...), `sparkentry` for the query
    * registry, `graft` for the other top-level files, `bench` for this
    * benchmark's own files, `other` for anything else. */
  def moduleMap(programRoot: java.nio.file.Path, benchRoot: java.nio.file.Path): String => String = {
    val m = scala.collection.mutable.Map[String, String]()
    def scan(root: java.nio.file.Path)(module: java.nio.file.Path => String): Unit =
      if (java.nio.file.Files.isDirectory(root)) {
        val s = java.nio.file.Files.walk(root)
        try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
          .foreach(p => m(p.getFileName.toString) = module(root.relativize(p)))
        finally s.close()
      }
    scan(benchRoot)(_ => "bench")
    scan(programRoot.resolve("graft")) { rel =>
      if (rel.getNameCount > 1) rel.getName(0).toString
      else if (rel.toString == "SparkEntry.scala") "sparkentry"
      else "graft"
    }
    file => m.getOrElse(file, "other")
  }
}
