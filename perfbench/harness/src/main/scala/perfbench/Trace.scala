package perfbench

import graft.drivers.{DeltaDestination, DestinationDriver, SourceDriver}
import graft.spec.MigrationSpec
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** One traced interval. `depth` orders nesting for self time: at every
  * instant the deepest active interval owns the time (later start breaks
  * ties), so the layers' self times partition the root span exactly.
  */
final case class Span(layer: String, name: String, depth: Int, start: Double, end: Double)

/** In-memory span recorder, active only in traced runs. Times are
  * epoch milliseconds (the unit of Spark's SQL execution events), taken
  * from the monotonic clock. Spans are kept in memory and read out after
  * each op.
  */
final class Tracer {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized { spans.toSeq }
  def clear(): Unit = synchronized { spans.clear() }

  def span[T](layer: String, name: String, depth: Int)(body: => T): T = {
    val t0 = nowMs
    try body finally add(Span(layer, name, depth, t0, nowMs))
  }

  /** Open stage spans (curation stages open on their snapshot read and
    * close when their write returns — two different driver calls).
    */
  private val open = mutable.Map.empty[String, Double]
  def openStage(name: String): Unit = synchronized {
    // a snapshot read left open by another stage (the mix stage reads
    // the langid state after langid has closed) never gets a write
    open.keys.filterNot(_ == name).toSeq.foreach(open.remove)
    if (!open.contains(name)) open(name) = nowMs
  }
  def closeStage(name: String): Unit = synchronized {
    open.remove(name).foreach(t0 => spans += Span("exec", "stage:" + name, 1, t0, nowMs))
  }
}

object Tracer {
  /** Layer self times within `root`: the root interval plus every span
    * and classified SQL execution that overlaps it.
    */
  def selfTimes(root: Span, inner: Seq[Span]): Map[String, Double] = {
    val clipped = inner.flatMap { s =>
      val a = math.max(s.start, root.start)
      val b = math.min(s.end, root.end)
      if (b > a) Some(s.copy(start = a, end = b)) else None
    }
    val all = root +: clipped
    val cuts = all.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val owner = all.filter(s => s.start <= mid && mid < s.end)
        .maxBy(s => (s.depth, s.start))
      acc(owner.layer) += (b - a) / 1000.0
    }
    acc.toMap
  }
}

/** Task, job and SQL-execution bookkeeping from Spark's listener bus.
  * Each SQL execution is classified when it ends, by the output path of
  * its write command in the typed plan of the `QueryExecution` that
  * Spark attaches to the end event (`pathLayers`, longest prefix first);
  * executions that write nowhere known are `exec`. Task metrics are
  * kept per execution and take its layer when they are read.
  */
final class BenchListener(pathLayers: () => Seq[(String, String)]) extends SparkListener {

  final class Acc {
    var runMs, cpuNs, gcMs, shuffleBytes, spillBytes, inputBytes, outBytes, outRecords, tasks = 0L
    def add(o: Acc): Unit = {
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleBytes += o.shuffleBytes
      spillBytes += o.spillBytes; inputBytes += o.inputBytes; outBytes += o.outBytes
      outRecords += o.outRecords; tasks += o.tasks
    }
  }
  private val NoExecution = -1L
  private val byExec = mutable.Map.empty[Long, Acc]
  var jobs = 0L
  private var jobsEnded = 0L
  private var lastEventNs = System.nanoTime()
  private val stageExec = mutable.Map.empty[Int, Long]
  private val execLayer = mutable.Map.empty[Long, String]
  private val execStart = mutable.Map.empty[Long, Double]
  private val execEnd = mutable.Map.empty[Long, Double]
  private var runningExecs = 0

  def reset(): Unit = synchronized {
    byExec.clear(); jobs = 0; jobsEnded = 0; stageExec.clear()
    execLayer.clear(); execStart.clear(); execEnd.clear()
  }

  /** The directory a file write targets, from its typed command. */
  private def outputPath(qe: QueryExecution): Option[String] =
    qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
      .orElse(qe.executedPlan.collectFirst {
        case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath.toString
      })

  private def layerFor(qe: QueryExecution): Option[String] =
    outputPath(qe).flatMap(out => pathLayers().sortBy(-_._1.length)
      .collectFirst { case (p, l) if (out + "/").contains(p) => l })

  /** The end event's `QueryExecution`. Spark keeps the field
    * package-private in Scala (its JVM accessor is public) and hands the
    * same object to `QueryExecutionListener`s, whose callbacks carry no
    * execution id to tie the execution's tasks to.
    */
  private def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(classOf[SparkListenerSQLExecutionEnd].getMethod("qe").invoke(e))
      .collect { case q: QueryExecution => q }

  private def layerOf(exec: Long): String = execLayer.getOrElse(exec, "exec")

  /** The layers that at least one execution was classified as. */
  def classified: Set[String] = synchronized { execLayer.values.toSet }

  /** Classified SQL executions as spans, one level below the driver
    * spans they run in.
    */
  def sqlSpans: Seq[Span] = synchronized {
    execEnd.toSeq.flatMap { case (id, t1) =>
      execStart.get(id).filter(_ => layerOf(id) != "exec").map(t0 => Span(layerOf(id), "sql", 3, t0, t1))
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStart(s.executionId) = s.time.toDouble
      runningExecs += 1; lastEventNs = System.nanoTime()
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      if (execStart.contains(e.executionId)) {
        runningExecs -= 1
        execEnd(e.executionId) = e.time.toDouble
        queryExecution(e).flatMap(layerFor).foreach(execLayer(e.executionId) = _)
      }
      lastEventNs = System.nanoTime()
    }
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(NoExecution)
    j.stageIds.foreach(s => stageExec(s) = exec)
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1; lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) {
      val a = byExec.getOrElseUpdate(stageExec.getOrElse(t.stageId, NoExecution), new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait until the asynchronous listener buses have delivered the
    * events of everything that already ran (all jobs and executions
    * ended, then a short quiet period).
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20e9.toLong
    def settled = synchronized {
      jobsEnded == jobs && runningExecs == 0 && System.nanoTime() - lastEventNs > 300e6
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  private def sum(p: Long => Boolean)(f: Acc => Long): Long = synchronized {
    val acc = new Acc
    byExec.foreach { case (id, a) => if (p(id)) acc.add(a) }
    f(acc)
  }
  def total(f: Acc => Long): Long = sum(_ => true)(f)
  def of(layer: String)(f: Acc => Long): Long = sum(layerOf(_) == layer)(f)
}

/** Timing decorators on the public driver traits. Every method forwards
  * to the wrapped driver; the decorators only record spans.
  */
class TracedSource(inner: SourceDriver, t: Tracer) extends SourceDriver {
  def read(spark: SparkSession, spec: MigrationSpec): DataFrame =
    t.span("drivers", "read", 2)(inner.read(spark, spec))
}

class TracedDest(inner: DestinationDriver, t: Tracer) extends DestinationDriver {
  def snapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] =
    t.span("drivers", "snapshot", 2)(inner.snapshot(spark, spec))
  override def existingIds(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] =
    inner.existingIds(spark, spec)
  def write(df: DataFrame, spec: MigrationSpec): Unit =
    t.span("drivers", "write", 2)(inner.write(df, spec))
  override def overwriteIsReadSafe: Boolean = inner.overwriteIsReadSafe
  override def snapshotIsStableAcrossWrites: Boolean = inner.snapshotIsStableAcrossWrites
  override def supportsStubs: Boolean = inner.supportsStubs
  override def readByIds(spark: SparkSession, spec: MigrationSpec, ids: Map[String, Any]): Option[Row] =
    inner.readByIds(spark, spec, ids)
}

/** Curation-stage decorator: also marks the stage span, from the stage's
  * first snapshot read to the return of its delta append or write.
  */
final class TracedStageDest(inner: DeltaDestination, t: Tracer)
    extends TracedDest(inner, t) with DeltaDestination {
  override def snapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] = {
    t.openStage(spec.name); super.snapshot(spark, spec)
  }
  def morSnapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] = {
    t.openStage(spec.name)
    t.span("drivers", "snapshot", 2)(inner.morSnapshot(spark, spec))
  }
  override def write(df: DataFrame, spec: MigrationSpec): Unit =
    try super.write(df, spec) finally t.closeStage(spec.name)
  def appendDelta(df: DataFrame, spec: MigrationSpec): Long =
    try t.span("drivers", "write", 2)(inner.appendDelta(df, spec)) finally t.closeStage(spec.name)
}
