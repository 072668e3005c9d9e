package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-span counters of the Spark work run under one span name. */
final class SpanStats {
  var wallS = 0.0
  var jobs = 0L
  var tasks = 0L
  var execCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val windows = mutable.ArrayBuffer.empty[(Long, Long)] // span [start, end) ms
  val taskTimes = mutable.ArrayBuffer.empty[(Long, Long)] // task [launch, finish) ms

  def toJson: Json.V = Json.obj(
    "wall_s" -> wallS, "jobs" -> jobs, "tasks" -> tasks,
    "exec_cpu_s" -> execCpuNs / 1e9, "shuffle_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes,
    "windows" -> Json.arr(windows.map { case (a, b) => Json.arr(Seq(a, b)) }.toSeq),
    "task_times" -> Json.arr(taskTimes.map { case (a, b) => Json.arr(Seq(a, b)) }.toSeq))
}

/** Attributes Spark work to named spans. A span sets a local property on
  * the calling thread; every job and stage submitted under it carries the
  * property, and task metrics come from `SparkListenerTaskEnd`. Also
  * records streaming progress and the session-wide input/output bytes.
  */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val Key = "perfbench.span"
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val spans = mutable.LinkedHashMap.empty[String, SpanStats]
  var inputBytes = 0L
  var outputBytes = 0L
  val progress = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def stats(name: String): SpanStats = synchronized(spans.getOrElseUpdate(name, new SpanStats))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { s =>
      synchronized(stats(s).jobs += 1)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
    }
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val st = stats(s)
      st.tasks += 1
      st.taskTimes += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        st.execCpuNs += m.executorCpuTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Run `body` as span `name`; nested spans attribute to the innermost. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      synchronized { val st = stats(name); st.wallS += dt; st.windows += ((t0, t1)) }
      sc.setLocalProperty(Key, prev)
    }
  }

  /** Wait until every posted event reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      Recorder.this.synchronized {
        progress += Map(
          // trigger start + its duration: the commit time, free of the
          // listener bus's delivery delay
          "batch_id" -> p.batchId.toDouble,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "commit_ms" -> (java.time.Instant.parse(p.timestamp).toEpochMilli + ms("triggerExecution")),
          "rows" -> p.numInputRows.toDouble, "addBatch_ms" -> ms("addBatch"),
          "queryPlanning_ms" -> ms("queryPlanning"), "walCommit_ms" -> ms("walCommit"),
          "trigger_ms" -> ms("triggerExecution"))
      }
    }
  }
}

/** Minimal JSON writer for the raw report. */
object Json {
  sealed trait V { def render: String }
  final case class Raw(render: String) extends V
  def str(s: String): V = Raw("\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")
  def num(d: Double): V = Raw(if (d.isNaN || d.isInfinite) "null" else d.toString)
  def of(x: Any): V = x match {
    case v: V => v
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => Raw(i.toString)
    case l: Long => Raw(l.toString)
    case b: Boolean => Raw(b.toString)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, v) => k.toString -> v }: _*)
    case s: Iterable[_] => arr(s.toSeq)
    case null => Raw("null")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): V =
    Raw(kv.map { case (k, v) => str(k).render + ":" + of(v).render }.mkString("{", ",", "}"))
  def arr(xs: Seq[Any]): V = Raw(xs.map(x => of(x).render).mkString("[", ",", "]"))
}
