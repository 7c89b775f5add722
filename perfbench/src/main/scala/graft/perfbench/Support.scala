package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's own calls into a layer: name, start, end
  * (epoch microseconds), the enclosing span on the same thread, and a
  * request id. Kept in memory and written once at the end; a disabled
  * tracer runs the body and records nothing.
  */
final class Tracer(enabled: Boolean) {
  import Tracer.Span
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[String]](() => Nil)

  private def nowUs: Long = System.currentTimeMillis() * 1000L +
    (System.nanoTime() / 1000L) % 1000L

  def span[A](name: String, req: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.get().headOption.getOrElse("")
      stack.set(name :: stack.get())
      val t0 = nowUs
      try body
      finally {
        spans.add(Span(name, t0, nowUs, parent, req))
        stack.set(stack.get().tail)
      }
    }

  def write(file: Path): Unit =
    Files.writeString(file, Json.render(spans.asScala.toSeq.map(s =>
      mutable.LinkedHashMap[String, Any]("name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "parent" -> s.parent, "req" -> s.req))))
}

object Tracer {
  private final case class Span(name: String, startUs: Long, endUs: Long,
      parent: String, req: String)
}

/** Spark job, task-CPU and shuffle counters, attributed to the job group the
  * benchmark set on its own thread, or to the streaming query id of a
  * micro-batch job. Registered only on traced runs; `inGroup` is a no-op
  * until it is.
  */
final class JobRecorder extends SparkListener {
  private final class Acc { var jobs = 0L; var cpuNs = 0L; var shuffleBytes = 0L; var tasks = 0L }
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  private val byOwner = new ConcurrentHashMap[String, Acc]()

  private def acc(owner: String): Acc = byOwner.computeIfAbsent(owner, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    // a micro-batch job carries its query's id (and a job group of the
    // query's own, which says nothing about who started the query)
    val owner = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
      .map(q => Option(ambient).getOrElse("query:" + q))
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
      .getOrElse("other")
    e.stageIds.foreach(s => stageOwner.put(s, owner))
    val a = acc(owner)
    a.synchronized(a.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val owner = stageOwner.get(e.stageId)
    val m = e.taskMetrics
    if (owner != null && m != null) {
      val a = acc(owner)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Run `body` with this thread's Spark job group set to `group`. */
  def inGroup[A](spark: SparkSession, group: String)(body: => A): A =
    if (!registered) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  /** Like [[inGroup]], and micro-batch jobs of streaming queries started
    * inside `body` (which run on their own threads) count to `group` too.
    * Only for code that runs while no other streaming query is active.
    */
  def owning[A](spark: SparkSession, group: String)(body: => A): A = {
    ambient = group
    try inGroup(spark, group)(body) finally ambient = null
  }

  @volatile private var ambient: String = _

  @volatile var registered = false

  def groupJobs(group: String): Long = Option(byOwner.get(group)).fold(0L)(_.jobs)

  def summary: Map[String, Map[String, Double]] =
    byOwner.asScala.toMap.map { case (k, a) =>
      k -> Map("jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble,
        "cpu_s" -> a.cpuNs / 1e9, "shuffle_bytes" -> a.shuffleBytes.toDouble)
    }
}

/** The operator catalog: the selected `graft.Registry` ops run once through
  * `graft.Verify.dump` (untimed: the first run of each op pays class loading
  * and code generation, and writes the outputs the DuckDB oracles check),
  * then once timed through the `noop` sink as in `graft.Bench`, with the
  * same cache sweep between ops.
  */
object Catalog {
  def run(spark: SparkSession, dataDir: String, dumpDir: String, names: Seq[String],
      tracer: Tracer, jobs: JobRecorder, result: mutable.LinkedHashMap[String, Any]): Unit = {
    val ops = names.map(n => graft.Registry.ops.find(_.name == n)
      .getOrElse(sys.error(s"unknown catalog op $n")))
    graft.Verify.dump(spark, dataDir, dumpDir, Some(names.toSet))
    result("ops") = ops.map { op =>
      val t0 = System.nanoTime()
      val error =
        try {
          tracer.span("catalog.op", op.name)(jobs.owning(spark, "op:" + op.name)(
            op.run(spark, dataDir).write.format("noop").mode("overwrite").save()))
          null
        } catch {
          case e: Throwable => Option(e.getMessage).getOrElse(e.getClass.getName)
        }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      mutable.LinkedHashMap[String, Any]("name" -> op.name, "wall_s" -> wall, "error" -> error)
    }
  }
}

/** A minimal JSON writer for the harness's result files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
