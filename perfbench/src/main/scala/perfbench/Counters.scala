package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark counters charged to spans.
  *
  * A span is a name the benchmark sets as the local property [[SpanKey]]
  * around its own call into the program. Every job submitted under it, also
  * from threads the program starts inside the call, is charged to that span.
  * Each job also keeps the output path its SQL execution writes, if any, and
  * its start and end times, so [[importLayers]] can split one
  * `Pipeline.importBag` call into its layers.
  *
  * Events arrive on the listener bus thread; read the results only after
  * the session has stopped, which drains the bus. */
final class Counters extends SparkListener {
  import Counters._

  private val execWrites = mutable.Map[Long, String]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJobs = mutable.Map[Int, Job]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      WritePath.findFirstMatchIn(e.physicalPlanDescription)
        .foreach(m => execWrites(e.executionId) = m.group(1).stripSuffix("/"))
    case _ =>
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = {
    val props = Option(job.properties)
    props.flatMap(p => Option(p.getProperty(SpanKey))).foreach { span =>
      val writes = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execWrites.get(id.toLong))
      val j = new Job(span, writes, job.time)
      jobs(job.jobId) = j
      job.stageIds.foreach(s => if (!stageJobs.contains(s)) stageJobs(s) = j)
    }
  }

  override def onJobEnd(job: SparkListenerJobEnd): Unit =
    jobs.get(job.jobId).foreach(_.endMs = job.time)

  override def onStageCompleted(stage: SparkListenerStageCompleted): Unit =
    stageJobs.get(stage.stageInfo.stageId).foreach(_.acc.stages += 1)

  override def onTaskEnd(task: SparkListenerTaskEnd): Unit =
    for (j <- stageJobs.get(task.stageId); m <- Option(task.taskMetrics)) {
      val a = j.acc
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.rowsIn += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.rowsOut += m.outputMetrics.recordsWritten
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  /** Counters of every job charged to span instance `span`, summed. */
  def total(span: String): Option[Acc] = {
    val js = jobs.values.filter(_.span == span).toSeq
    if (js.isEmpty) None else Some(sum(js))
  }

  /** One `Pipeline.importBag` call, run under span instance `span`, split
    * into its layers by what each job writes:
    *
    *   - `ingest.raw` (and `ingest.raw/<table>`): jobs writing
    *     `.../raw/<table>` (`Pipeline.materialize`), plus the jobs without
    *     an output that start before the last of them ends (reading the
    *     gemeenten CSV, schema work in `Pipeline.rawTables`);
    *   - `curate`: every later job: the `adressen` write, the counting
    *     pre-pass of `Adressen.curated`, and reading the result back.
    *
    * `ingest.stage` (`BagZip.stage`, which runs no Spark job) is the time
    * from the span's start to its first job; `ingest.raw` runs from there
    * to the end of the last raw write, `curate` from there to the span's
    * end. Returns layer -> (wall seconds, counters). */
  def importLayers(span: String, startMs: Long, endMs: Long): Map[String, (Double, Acc)] = {
    val js = jobs.values.filter(_.span == span).toSeq
    val raw = js.flatMap(j => j.writes.flatMap(RawTable.findFirstMatchIn).map(m => m.group(1) -> j))
    if (js.isEmpty || raw.isEmpty) return Map.empty
    val firstMs = js.map(_.startMs).min
    val rawEndMs = raw.map(_._2.endMs).max
    val rawJobs = raw.map(_._2).toSet
    val (ingest, curate) = js.partition(j => rawJobs(j) || j.startMs <= rawEndMs)
    def s(ms: Long) = ms.max(0L) / 1e3
    Map("ingest.stage" -> (s(firstMs - startMs), new Acc),
      "ingest.raw" -> (s(rawEndMs - firstMs), sum(ingest)),
      "curate" -> (s(endMs - rawEndMs), sum(curate))) ++
      raw.groupBy(_._1).map { case (t, tj) => s"ingest.raw/$t" -> (0.0, sum(tj.map(_._2))) }
  }
}

object Counters {
  val SpanKey = "perfbench.span"

  /** The output path of a SQL execution's file write: the first argument
    * of its root node, in the formatted plan (`Arguments:` line of the
    * node's details) or the simple one (same line). */
  private val WritePath = ("Execute InsertIntoHadoopFsRelationCommand" +
    """(?:\n(?:[^\n]*\n)*?Arguments:)? ((?:file:)?/[^,\s]+)""").r
  private val RawTable = """/raw/([a-z_]+)$""".r

  final class Acc {
    var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    var inBytes, rowsIn, outBytes, rowsOut, shuffleWrite, shuffleRead, spill = 0L

    def add(o: Acc): Acc = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; inBytes += o.inBytes; rowsIn += o.rowsIn
      outBytes += o.outBytes; rowsOut += o.rowsOut; shuffleWrite += o.shuffleWrite
      shuffleRead += o.shuffleRead; spill += o.spill
      this
    }
  }

  final class Job(val span: String, val writes: Option[String], val startMs: Long) {
    var endMs: Long = startMs
    val acc: Acc = { val a = new Acc; a.jobs = 1; a }
  }

  private def sum(js: Seq[Job]): Acc = js.foldLeft(new Acc)((a, j) => a.add(j.acc))
}
