package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Spans the benchmark records around its own calls into the program.
  *
  * Every call through [[span]] is timed. When tracing is on, the call also
  * runs under a fresh span instance id (`name#k`), so the [[Counters]]
  * listener charges its Spark jobs to that instance. */
final class Tracer(spark: SparkSession, val tracing: Boolean) {
  private val counters: Option[Counters] =
    if (tracing) Some(new Counters) else None
  counters.foreach(spark.sparkContext.addSparkListener)

  private final case class Rec(name: String, id: String, startMs: Long, endMs: Long,
      wall: Double, traced: Boolean)

  private val seq = mutable.Map[String, Int]().withDefaultValue(0)
  private val spans = mutable.ArrayBuffer[Rec]()

  def span[T](name: String, traced: Boolean = true)(body: => T): T = {
    val id = s"$name#${seq(name)}"
    seq(name) += 1
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Counters.SpanKey)
    if (tracing && traced) sc.setLocalProperty(Counters.SpanKey, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Rec(name, id, startMs, System.currentTimeMillis(), Out.seconds(t0),
        tracing && traced)
      sc.setLocalProperty(Counters.SpanKey, prev)
    }
  }

  private def fields(a: Counters.Acc): Map[String, Any] = Map(
    "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
    "exec_run_s" -> a.runMs / 1e3, "exec_cpu_s" -> a.cpuNs / 1e9,
    "gc_s" -> a.gcMs / 1e3, "input_bytes" -> a.inBytes, "rows_in" -> a.rowsIn,
    "output_bytes" -> a.outBytes, "rows_out" -> a.rowsOut,
    "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
    "spill_bytes" -> a.spill)

  /** Span records with their counters; call after `spark.stop()`. */
  def records(): Seq[Map[String, Any]] = spans.toSeq.map { r =>
    Map("name" -> r.name, "wall_s" -> r.wall, "traced" -> r.traced,
      "counters" -> counters.flatMap(_.total(r.id)).map(fields))
  }

  /** The traced instances of span `name`, each a `Pipeline.importBag` call,
    * split into layer spans by [[Counters.importLayers]]; call after
    * `spark.stop()`. */
  def importLayers(name: String): Seq[Map[String, Any]] = for {
    c <- counters.toSeq
    r <- spans.toSeq if r.name == name && r.traced
    (layer, (wall, acc)) <- c.importLayers(r.id, r.startMs, r.endMs)
  } yield Map("name" -> layer, "wall_s" -> wall, "traced" -> true, "counters" -> fields(acc))
}
