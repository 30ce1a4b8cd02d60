package perfbench

import scala.util.Random

import graft.{BagScaleProbe, Config, Pipeline, SessionResources, Validate}
import graft.queries.Queries
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one mode per process.
  *
  *   generate dir=D n=N reps=R
  *   import   zip=Z csv=C work=D n=N trace=0|1 cores=C
  *   warehouse work=D warehouse=D n=N cores=C
  *   mix      work=D sf=D warehouse=D variants=a,b queries=a,b seed=S
  *            seconds=T trace=0|1 setup_reps=R cores=C
  *
  * Each mode prints one `PERFBENCH {...}` line with raw samples; run.py
  * turns them into metrics and checks the outputs. */
object PerfMain {

  /** The probe's extract and validity date (BagScaleProbe.probeCfg). */
  val AsOf = "2024-06-30"

  final case class Args(kv: Map[String, String]) {
    def str(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k="))
    def int(k: String): Int = str(k).toInt
    def flag(k: String): Boolean = kv.get(k).contains("1")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.drop(1).map { s =>
      val i = s.indexOf('='); s.take(i) -> s.drop(i + 1)
    }.toMap)
    argv.head match {
      case "generate" => generate(a)
      case "import" => importRun(a)
      case "warehouse" => warehouseBuild(a)
      case "mix" => mixRun(a)
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** Build a session with the given confs; returns it with its start-up
    * seconds. */
  def session(a: Args, app: String, confs: Seq[(String, String)]): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val b = SparkSession.builder().master(s"local[${a.int("cores")}]").appName(app)
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (spark, Out.seconds(t0))
  }

  /** Confs set on the running session (everything not at its default). */
  def setConfs(spark: SparkSession): Map[String, String] = {
    val volatile = Set("spark.app.id", "spark.app.startTime", "spark.driver.host",
      "spark.driver.port", "spark.app.submitTime", "spark.executor.id")
    spark.sparkContext.getConf.getAll.toMap.filter { case (k, _) => !volatile(k) }
  }

  /** Validate thresholds scaled to the extract, as BagScaleProbe.run
    * derives them. */
  def thresholds(sh: BagScaleProbe.Shape): Validate.Thresholds = Validate.Thresholds(
    minAdressen = sh.expectedAdressen,
    minAdressenMetPand = sh.n.toLong - sh.nLig - sh.nSta - sh.n / 50,
    minLigplaatsen = sh.nLig,
    minStandplaatsen = sh.nSta,
    minOpenbareRuimten = sh.nStreets,
    minWoonplaatsen = sh.nWpl,
    minGemeenten = sh.nGem + 1,
    exactProvincies = sh.nProvincies)

  // ------------------------------------------------------------ generate
  /** Set-up of bag_import: generate the extract `reps` times into fresh
    * directories, keep the last one under `dir`. */
  def generate(a: Args): Unit = {
    val dir = a.str("dir")
    val n = a.int("n")
    val times = (1 to a.int("reps")).map { r =>
      val d = s"$dir.rep$r"
      Out.deleteTree(d)
      val (_, s) = Out.timed(BagScaleProbe.generate(d, n))
      s
    }
    Out.deleteTree(dir)
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir.rep${times.size}"),
      java.nio.file.Paths.get(dir))
    (1 until times.size).foreach(r => Out.deleteTree(s"$dir.rep$r"))
    Out.emit(Map("generate_s" -> times, "zip_bytes" -> Out.bytesUnder(dir)))
  }

  // -------------------------------------------------------------- import
  /** One bag_import run, as the ImportBag CLI runs it: a fresh session,
    * Pipeline.importBag, then Validate.run at the scaled thresholds. With
    * trace=1 the listener splits the import into its layers (see
    * [[Counters.importLayers]]). */
  def importRun(a: Args): Unit = {
    Out.trackHeap()
    val work = a.str("work")
    val sh = BagScaleProbe.Shape(a.int("n"))
    val cfg = Config(asOfDate = AsOf)
    val layout = Pipeline.Layout(s"$work/staging", s"$work/warehouse")
    val (spark, startS) = session(a, "graft-import", Seq(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.warehouse.dir" -> s"$work/spark-warehouse"))
    val tr = new Tracer(spark, a.flag("trace"))
    val c0 = Out.cpuSeconds()
    val (adressen, importS) = Out.timed(tr.span("import")(
      Pipeline.importBag(spark, a.str("zip"), a.str("csv"), layout, cfg)))
    val importCpuS = Out.cpuSeconds() - c0
    val count = adressen.count()
    val tables = Pipeline.openWarehouse(spark, layout.warehouseDir)._1
    val (checks, validateS) = Out.timed(tr.span("validate")(
      Validate.run(adressen, tables, thresholds(sh), goldenChecks = sh.planted)))
    checks.filter(_.isError).foreach(c => System.err.println(s"[perfbench] FAIL ${c.name}"))
    val heapMb = Out.liveHeapPeakMb()
    val storeBytes = Out.bytesUnder(s"${layout.warehouseDir}/raw", ".parquet") +
      Out.bytesUnder(s"${layout.warehouseDir}/adressen", ".parquet")
    val confs = setConfs(spark)
    spark.stop()
    Out.emit(Map(
      "session_start_s" -> startS, "import_s" -> importS, "validate_s" -> validateS,
      "import_cpu_s" -> importCpuS, "cpu_s" -> Out.cpuSeconds(),
      "adressen" -> count, "expected_adressen" -> sh.expectedAdressen,
      "checks" -> checks.size, "checks_failed" -> Validate.errorCount(checks),
      "store_bytes" -> storeBytes, "staged_bytes" -> Out.bytesUnder(layout.stagingDir),
      "live_heap_peak_mb" -> heapMb, "confs" -> confs,
      "spans" -> (tr.records() ++ tr.importLayers("import"))) ++ Out.jvmFacts())
  }

  // ----------------------------------------------------------- warehouse
  /** Build query_mix's BAG warehouse: generate an n-address extract and
    * import it with Pipeline.importBag at the ImportBag CLI's shuffle width
    * into `warehouse`, then mark it complete. run.py runs this once per
    * source state, as part of building the benchmark. */
  def warehouseBuild(a: Args): Unit = {
    val work = a.str("work")
    val warehouse = a.str("warehouse")
    val (spark, _) = session(a, "graft-import", Seq(
      "spark.sql.shuffle.partitions" -> ExportPartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.warehouse.dir" -> s"$work/spark-warehouse"))
    val t0 = System.nanoTime()
    Out.deleteTree(warehouse)
    val (zip, csv) = BagScaleProbe.generate(s"$work/extract", a.int("n"))
    val adressen = Pipeline.importBag(spark, zip, csv,
      Pipeline.Layout(s"$work/staging", warehouse), Config(asOfDate = AsOf)).count()
    spark.stop()
    java.nio.file.Files.createFile(java.nio.file.Paths.get(warehouse, WarehouseMarker))
    Out.emit(Map("build_s" -> Out.seconds(t0), "adressen" -> adressen))
  }

  /** File that marks a complete warehouse; run.py checks for it. */
  val WarehouseMarker = "_PERFBENCH_COMPLETE"

  // ----------------------------------------------------------------- mix
  /** query_mix: one warm session serving the five export variants over a
    * BAG warehouse the code under test imported, and the given Queries.all
    * entries over the testdata.
    *
    * Each set-up repetition opens the warehouse (Pipeline.openWarehouse);
    * the exports use the tables the last one opened, as a session serving
    * exports keeps them. Every operation then runs once untimed, each query
    * writing its output for the check, so the timed passes do not pay for
    * the first compilation of each plan. After that, passes over all
    * operations in seed order run back to back for `seconds`. Exports write
    * their CSV in every pass; the last pass's files are checked. Exports run
    * with the Exports CLI's shuffle width, queries with Bench's; each
    * operation is followed by SessionResources.release inside its timed
    * window, as in Bench. The live-heap peak counts from the end of set-up;
    * a single pass's peak depends too much on when collections fall. */
  def mixRun(a: Args): Unit = {
    Out.trackHeap()
    val work = a.str("work")
    val sf = a.str("sf")
    val warehouse = a.str("warehouse")
    val all = Queries.all.toMap
    val queries = a.str("queries").split(",").toSeq.filter(_.nonEmpty)
    val variants = a.str("variants").split(",").toSeq.filter(_.nonEmpty)
    val (spark, startS) = session(a, "graft-bench", Seq(
      "spark.sql.shuffle.partitions" -> a.str("cores"),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> s"$work/spark-warehouse"))
    val opened = (1 to a.int("setup_reps")).map(_ => Out.timed(
      Pipeline.openWarehouse(spark, warehouse)))
    val (tables, adressen) = opened.last._1
    val adressenRows = adressen.count()
    Out.resetHeapPeak()
    val tr = new Tracer(spark, a.flag("trace"))
    val ops: Seq[(String, (String, Boolean) => Unit)] =
      variants.map(v => s"export.$v" -> { (out: String, noop: Boolean) =>
        withShufflePartitions(spark, ExportPartitions)(Pipeline.export(adressen, tables, v, out))
      }) ++
      queries.map(q => s"query.$q" -> { (out: String, noop: Boolean) =>
        val df = all(q)(spark, sf)
        if (noop) df.write.format("noop").mode("overwrite").save()
        else df.coalesce(1).write.mode("overwrite").parquet(out)
      })
    def runOp(name: String, f: (String, Boolean) => Unit, out: String, noop: Boolean,
        traced: Boolean): Map[String, Any] = {
      val t0 = System.nanoTime()
      val c0 = Out.cpuSeconds()
      val ok = try { tr.span(name, traced)(f(out, noop)); true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e"); false
      }
      val (_, releaseS) = Out.timed(SessionResources.release(spark))
      Map("op" -> name, "ok" -> ok, "s" -> Out.seconds(t0), "cpu_s" -> (Out.cpuSeconds() - c0),
        "release_s" -> releaseS)
    }
    val (checkRun, checkS) = Out.timed(ops.map { case (name, f) =>
      name -> runOp(name, f, s"$work/check/$name", noop = false, traced = false)("ok")
    })
    val check = checkRun.filter(_._1.startsWith("query."))
    val rnd = new Random(a.int("seed"))
    val passes = closedLoop(a.int("seconds"), if (tr.tracing) 3 else 1) { traced =>
      rnd.shuffle(ops).map { case (name, f) =>
        runOp(name, f, s"$work/pass/$name", noop = true, traced)
      }
    }.map { case (traced, ops) => Map("traced" -> (tr.tracing && traced), "ops" -> ops) }
    val heapMb = Out.liveHeapPeakMb()
    val confs = setConfs(spark)
    spark.stop()
    Out.emit(Map(
      "session_start_s" -> startS, "setup_s" -> opened.map(_._2), "check_s" -> checkS,
      "adressen" -> adressenRows, "check" -> check.toMap, "passes" -> passes,
      "oracle_sql" -> queries.map(q => q -> graft.queries.Oracle.sql.getOrElse(q, "")).toMap,
      "live_heap_peak_mb" -> heapMb, "confs" -> confs,
      "spans" -> tr.records()) ++ Out.jvmFacts())
  }

  /** The Exports and ImportBag CLIs' shuffle width. */
  val ExportPartitions = 32

  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Closed loop: start pass after pass, back to back, until `seconds`
    * have gone by and at least `minPasses` ran; every started pass
    * completes and is kept. Passes alternate untraced and traced, starting
    * untraced, so a traced run measures its own overhead with each traced
    * pass between two untraced ones, which cancels the JIT still warming
    * up. */
  def closedLoop[T](seconds: Int, minPasses: Int)(pass: Boolean => T): Seq[(Boolean, T)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Boolean, T)]()
    val t0 = System.nanoTime()
    while (out.size < minPasses || Out.seconds(t0) < seconds) {
      val traced = out.size % 2 == 1
      out += traced -> pass(traced)
    }
    out.toSeq
  }

}
