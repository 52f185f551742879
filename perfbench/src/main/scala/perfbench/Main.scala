package perfbench

import graft.etl.{Compact, Export, ExportConfig}
import graft.sources.{DocStore, DocStoreMaintenance, DocStoreTableSource, ParquetDirSource, TableSource}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import scala.collection.mutable

/** Export and docstore write-path benchmark (one JVM, `local[cores]`).
  *
  * Calls only public program functions and times them from outside.
  * A run is: build the session, one untimed cold round, then timed
  * rounds until `seconds` have passed. Every round writes into a fresh
  * directory under `work`; deleting it happens outside the timed calls.
  * With `trace` on, a bench-side listener and extra prefix jobs collect
  * the per-layer numbers; timing runs leave them off.
  *
  * Usage: perfbench.Main <params.properties> <result.json>
  * (`perfbench/run.py` writes the params and checks the result.) */
object Main {

  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try p.load(in) finally in.close()
    def get(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"perfbench: missing param $k"))
    val cores = get("cores").toInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", new File(get("work"), "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(get("work"), "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val bench = new Bench(spark, get, cores, get("trace") == "1")
    val out =
      try bench.run(get("workload"), get("seconds").toDouble, sessionS)
      finally spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(args(1)), out)
  }
}

final class Bench(spark: SparkSession, param: String => String, cores: Int, traced: Boolean) {

  private val fixture = param("fixture")
  private val work = param("work")
  private val trace = if (traced) Some(new Trace(spark)) else None
  trace.foreach(spark.sparkContext.addSparkListener)

  // one sample list per metric; medians and percentiles come at the end
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var lastExport: Option[(String, Seq[String])] = None
  private var attempted, failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  /** Times one call; under tracing it also tags its Spark jobs. */
  private def timed[T](name: String)(body: => T): (T, Double) = {
    val n0 = System.nanoTime()
    val r = trace.fold(body)(_.run(name)(body))
    (r, (System.nanoTime() - n0) / 1e9)
  }

  /** One attempted operation: a throw counts as failed and is kept. */
  private def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        errors += s"$what: $e"
        None
    }
  }

  private def cents(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(round(col("l_extendedprice") * 100).cast("long"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def rm(path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(DocStore.hadoopConf).delete(p, true): Unit
  }

  /** (files, bytes) of the parquet data files under `dir`. */
  private def parquetFiles(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(dir)).filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    (fs.size.toLong, fs.map(_.length).sum)
  }

  /** Traced counters of op `name`, or of every op under it when `name`
    * ends with a dot. */
  private def opsOf(name: String) = trace.toSeq.flatMap(_.ops(n =>
    if (name.endsWith(".")) n.startsWith(name) else n == name))

  def run(workload: String, seconds: Double, sessionS: Double): Map[String, Any] = {
    val round: Int => Unit = workload match {
      case "export_full" => exportRound(full = true)
      case "export_narrow" => exportRound(full = false)
      case "docstore_cycle" => cycleRound
      case other => sys.error(s"perfbench: unknown workload $other")
    }
    // set-up: the cold round, then `warmup_rounds - 1` more untimed ones
    val c0 = System.nanoTime()
    round(0)
    val firstS = (System.nanoTime() - c0) / 1e9
    (1 until param("warmup_rounds").toInt).foreach(i => round(-i))
    val warmS = (System.nanoTime() - c0) / 1e9
    samples.clear()
    checks.clear()
    val m0 = System.nanoTime()
    val minRounds = param("min_rounds").toInt
    var r = 1
    while (r <= minRounds || (System.nanoTime() - m0) / 1e9 < seconds) { round(r); r += 1 }
    val measuredS = (System.nanoTime() - m0) / 1e9
    lastExport.foreach { case (dir, tables) =>
      // partition counts of the last round's output, read back untimed
      checks(checks.size - 1) += "partitions" -> tables.map { t =>
        t -> spark.read.parquet(s"$dir/out/$t").groupBy(col("part_year").cast("string")).count()
          .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      }.toMap
    }
    rm(work + "/rounds")
    // the cached input is the benchmark's, not the program's heap
    if (workload == "docstore_cycle") lineitem.unpersist(blocking = true): Unit
    // a few collections apart: the context cleaner frees broadcast and
    // shuffle blocks asynchronously once the first one has run
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(250) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    sample("heap_retained_mb", heapMb)
    sample("setup_s", sessionS + warmS)
    sample("setup.session_s", sessionS)
    sample("setup.first_round_s", firstS)
    Map(
      "workload" -> workload,
      "rounds" -> (r - 1),
      "measured_s" -> measuredS,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "checks" -> checks.toSeq,
      "regime" -> Map(
        "cores" -> cores,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)))
  }

  // ---------------------------------------------------------------- exports

  private val dateColumns: Map[String, Option[String]] = Map(
    "region" -> None, "nation" -> None, "customer" -> None,
    "supplier" -> None, "part" -> None, "documents" -> None,
    "embeddings" -> None, "lineitem" -> Some("l_shipdate"),
    "orders" -> Some("o_orderdate"), "events" -> Some("ts"))

  /** Recorded write-command durations: one per table an export writes. */
  private val writeNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private lazy val writeListener: Unit = spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (funcName == "command") writeNs.add(durationNs): Unit
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private def exportRound(full: Boolean)(r: Int): Unit = {
    // a set-up round makes one call of each read; timed rounds repeat the
    // short reads, whose single calls are too brief to time steadily
    val repeats = if (r <= 0) 1 else 3
    writeListener
    val dir = s"$work/rounds/r${r + 1000}"
    rm(s"$work/rounds")
    val cfg =
      if (full) ExportConfig(inputDir = fixture, outputDir = s"$dir/out", dateColumns = dateColumns)
      else ExportConfig(
        inputDir = fixture, outputDir = s"$dir/out", dateColumns = dateColumns,
        includeTables = Set("lineitem", "orders", "events"),
        dateRanges = Seq("lineitem", "orders", "events").map(t =>
          t -> (Some(param(s"$t.start")), Some(param(s"$t.end")))).toMap)
    val src: TableSource =
      if (full) ParquetDirSource(fixture, Set("ts")) else DocStoreTableSource(fixture)
    val tables = dateColumns.keys.toSeq.sorted.filter(t => cfg.includeTables.isEmpty || cfg.includeTables(t))

    if (trace.isDefined) tables.foreach { t =>
      val (start, end) = cfg.rangeFor(t)
      timed(s"r$r.prefix.scan.$t")(src.read(spark, t).write.format("noop").mode("overwrite").save())
      timed(s"r$r.prefix.transform.$t")(
        Export.transform(src.read(spark, t), dateColumns(t), start, end)
          .write.format("noop").mode("overwrite").save())
    }

    org.apache.spark.sql.graftshim.CatalystBridge.waitForListeners(spark)
    writeNs.clear()
    val (results, exportS) = timed(s"r$r.export")(Export.run(spark, cfg, src))
    org.apache.spark.sql.graftshim.CatalystBridge.waitForListeners(spark)
    writeNs.forEach(ns => sample("commit_s", ns / 1e9))
    attempted += results.size
    results.collect { case Left((t, e)) => failed += 1; errors += s"export $t: $e" }
    val rows = results.collect { case Right(tr) => tr.table -> tr.rows }.toMap
    val total = rows.values.sum
    sample("rows_per_s", total / exportS)
    val (files, bytes) = parquetFiles(s"$dir/out")
    sample("out_bytes_per_row", bytes.toDouble / math.max(1L, total))
    sample("etl.files_out", files.toDouble)
    sample("etl.bytes_out", bytes.toDouble)

    // serve: full-width read-back and one window read of the lineitem output
    val li = s"$dir/out/lineitem"
    val liRows = rows.getOrElse("lineitem", 0L)
    for (i <- 0 until repeats) attempt("scan") {
      val (_, s) = timed(s"r$r.scan.$i")(spark.read.parquet(li).write.format("noop").mode("overwrite").save())
      sample("scan_rows_per_s", liRows / s)
    }
    val range = (0 until repeats).map(i => attempt("range") {
      val (ya, yb) = (param("range.start").take(4).toInt, param("range.end").take(4).toInt)
      val (res, s) = timed(s"r$r.range.$i")(cents(spark.read.parquet(li)
        .filter(col("part_year").between(ya, yb) && col("l_shipdate").between(
          lit(param("range.start")).cast("timestamp"), lit(param("range.end")).cast("timestamp")))))
      sample("range_read_s", s)
      Seq(res._1, res._2)
    }.orNull).distinct
    // maintain: the parquet sink's compaction of the orders output
    val (filesIn, bytesIn) = parquetFiles(s"$dir/out/orders")
    val compacted = attempt("compact") {
      val (n, s) = timed(s"r$r.compact")(Compact.compact(spark, s"$dir/out/orders", s"$dir/compact", cores))
      sample("compact_s", s)
      n
    }
    sample("compact.files_in", filesIn.toDouble)
    sample("compact.files_out", parquetFiles(s"$dir/compact")._1.toDouble)
    sample("compact.bytes_rewritten", bytesIn.toDouble)

    if (trace.isDefined) {
      tables.foreach { t =>
        val scan = opsOf(s"r$r.prefix.scan.$t")
        val tr = opsOf(s"r$r.prefix.transform.$t")
        sample(s"table.$t.scan_s", scan.map(_._2.wallS).sum)
        sample(s"table.$t.transform_s", tr.map(_._2.wallS).sum)
      }
      val scan = opsOf(s"r$r.prefix.scan.").map(_._2)
      val transform = opsOf(s"r$r.prefix.transform.").map(_._2)
      val scanS = scan.map(_.wallS).sum
      val prefixS = transform.map(_.wallS).sum
      sample("sources.scan_s", scanS)
      sample("sources.bytes_read", scan.map(_.bytesRead).sum.toDouble)
      sample("sources.records_read", scan.map(_.recordsRead).sum.toDouble)
      sample("sources.scan_tasks", scan.map(_.tasks).sum.toDouble)
      sample("etl.transform_s", prefixS - scanS)
      sample("etl.write_s", exportS - prefixS)
      sparkCounters(opsOf(s"r$r.export").map(_._2))
    }
    lastExport = Some((dir, tables.filter(rows.contains)))
    checks += Map(
      "round" -> r, "rows" -> rows,
      "range" -> (if (range.size == 1) range.head else range),
      "compacted_rows" -> compacted.getOrElse(-1L))
  }

  // --------------------------------------------------------- docstore cycle

  private lazy val lineitem: DataFrame = {
    val salt = param("salt").toLong
    val appends = param("appends").toInt
    val df = spark.read.parquet(s"$fixture/lineitem.parquet")
      .withColumn("ship_year", year(col("l_shipdate")))
      .withColumn("_split", (col("l_orderkey") * 7919 + col("l_partkey") * 104729 +
        col("l_linenumber") * 31 + salt) % 1000)
      .withColumn("_slice", (col("l_orderkey") * 31 + col("l_partkey") * 17 + salt) % appends)
      .cache()
    df.count(): Unit
    df
  }

  private def storeWrite(df: DataFrame, store: String, first: Boolean): Unit = {
    val w = df.drop("_split", "_slice").write.format("docstore")
      .option("path", store)
      .option("partitionBy", "ship_year")
      .option("sortBy", "l_shipdate")
      .option("rowGroupBytes", param("row_group_bytes"))
      .mode("append")
    (if (first) w.option("snapshots", "true") else w).save()
  }

  private def storeFiles(store: String): Map[String, Long] =
    DocStore.listFiles(store).map(f => f -> new File(new java.net.URI(f).getPath).length).toMap

  private def cycleRound(r: Int): Unit = {
    val store = s"$work/rounds/r${r + 1000}/store"
    rm(s"$work/rounds")
    // a set-up round makes a few appends and one full read: enough to load
    // and compile those paths without paying for all of them in set-up.
    // It keeps every window read, whose planning is still compiling after
    // one call. Its samples are discarded, so it also skips the checks.
    val setup = r <= 0
    val appends = if (setup) param("warmup_appends").toInt else param("appends").toInt
    val bulk = lineitem.filter(col("_split") < 900)
    val bulkRows = bulk.count()
    def read() = spark.read.format("docstore").option("path", store).load()

    attempt("bulk") {
      val (_, s) = timed(s"r$r.bulk")(storeWrite(bulk, store, first = true))
      sample("rows_per_s", bulkRows / s)
    }
    var before = storeFiles(store)
    for (k <- 0 until appends) attempt(s"append $k") {
      val slice = lineitem.filter(col("_split") >= 900 && col("_slice") === k)
      val (_, s) = timed(s"r$r.append.$k")(storeWrite(slice, store, first = false))
      sample("commit_s", s)
      if (trace.isDefined) {
        val after = storeFiles(store)
        val added = after.keySet -- before.keySet
        sample("docstore.files_added", added.size.toDouble)
        sample("docstore.bytes_added", added.toSeq.map(after).sum.toDouble)
        before = after
        opsOf(s"r$r.append.$k").map(_._2).foreach { o =>
          sample("docstore.write_job_s", o.jobBusyS)
          sample("docstore.commit_s", o.afterLastJobS)
        }
      }
    }
    val beforeCompact = if (setup) (1L, 0L) else cents(read())
    val liveRows = beforeCompact._1
    if (trace.isDefined) {
      val versions = DocStore.snapshotVersions(store)
      sample("docstore.versions", versions.size.toDouble)
      sample("docstore.manifest_bytes",
        versions.lastOption.fold(0L)(v => new File(s"$store/${DocStore.SnapshotDir}/v$v").length).toDouble)
    }

    for (i <- 0 until (if (setup) 1 else 3)) attempt("full read") {
      val (_, s) = timed(s"r$r.full_read.$i")(read().write.format("noop").mode("overwrite").save())
      sample("scan_rows_per_s", liveRows / s)
    }
    // every pass reads each window once; the set-up round makes the same
    // passes, so the timed ones find the planning path compiled
    val windows = (0 until param("windows").toInt).map(i => (param(s"window.$i.start"), param(s"window.$i.end")))
    val passes = (0 until param("window_passes").toInt).flatMap(_ => windows)
    val ranges = passes.zipWithIndex.map { case ((a, b), i) =>
      attempt(s"range $i") {
        val df = read()
          .filter(col("ship_year") === a.take(4).toInt &&
            col("l_shipdate").between(lit(a).cast("timestamp"), lit(b).cast("timestamp")))
          .agg(count(lit(1)), sum(round(col("l_extendedprice") * 100).cast("long")))
        val consults0 = DocStore.footerConsults.get()
        val (row, s) = timed(s"r$r.range.$i") {
          if (trace.isDefined) {
            val p0 = System.nanoTime()
            df.queryExecution.executedPlan: Unit
            sample("docstore.plan_s", (System.nanoTime() - p0) / 1e9)
          }
          df.head()
        }
        sample("range_read_s", s)
        if (trace.isDefined) {
          sample("docstore.footer_consults", (DocStore.footerConsults.get() - consults0).toDouble)
          opsOf(s"r$r.range.$i").map(_._2).foreach { o =>
            sample("docstore.scan_tasks", o.tasks.toDouble)
            sample("docstore.scan_bytes_read", o.bytesRead.toDouble)
            sample("docstore.rows_read_ratio", o.recordsRead.toDouble / math.max(1L, liveRows))
          }
        }
        Seq(row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      }.orNull
    }

    val preCompact = storeFiles(store)
    val stats = attempt("compact") {
      val (st, s) = timed(s"r$r.compact")(DocStoreMaintenance.compact(
        spark, store, smallerThan = 256L << 20, sortBy = Seq("l_shipdate"),
        rowGroupBytes = Some(param("row_group_bytes").toLong)))
      sample("compact_s", s)
      st
    }
    val postCompact = storeFiles(store)
    stats.foreach { st =>
      sample("compact.files_in", st.filesIn.toDouble)
      sample("compact.files_out", st.filesOut.toDouble)
    }
    sample("compact.bytes_rewritten", (preCompact.keySet -- postCompact.keySet).toSeq.map(preCompact).sum.toDouble)
    val afterCompact = if (setup) (1L, 0L) else cents(read())
    sample("out_bytes_per_row", postCompact.values.sum.toDouble / math.max(1L, afterCompact._1))

    if (trace.isDefined) {
      opsOf(s"r$r.full_read.0").map(_._2).foreach { o =>
        sample("sources.scan_s", o.wallS)
        sample("sources.bytes_read", o.bytesRead.toDouble)
        sample("sources.records_read", o.recordsRead.toDouble)
        sample("sources.scan_tasks", o.tasks.toDouble)
      }
      sparkCounters(opsOf(s"r$r.").map(_._2))
    }
    if (!setup) checks += Map(
      "round" -> r, "bulk_rows" -> bulkRows, "files_before_compact" -> preCompact.size,
      "files_after_compact" -> postCompact.size,
      "before_compact" -> Seq(beforeCompact._1, beforeCompact._2),
      "after_compact" -> Seq(afterCompact._1, afterCompact._2),
      "ranges" -> ranges)
  }

  /** Per-round Spark counters over the round's timed calls. */
  private def sparkCounters(ops: Seq[Trace.Op]): Unit = {
    val wall = ops.map(_.wallS).sum
    sample("spark.jobs", ops.map(_.jobs).sum.toDouble)
    sample("spark.stages", ops.map(_.stages).sum.toDouble)
    sample("spark.tasks", ops.map(_.tasks).sum.toDouble)
    sample("spark.executor_cpu_s", ops.map(_.cpuNs).sum / 1e9)
    sample("spark.executor_run_s", ops.map(_.runMs).sum / 1e3)
    sample("spark.gc_s", ops.map(_.gcMs).sum / 1e3)
    sample("spark.shuffle_write_bytes", ops.map(_.shuffleWriteBytes).sum.toDouble)
    sample("spark.spill_bytes", ops.map(_.spillBytes).sum.toDouble)
    sample("spark.slot_util", ops.map(_.runMs).sum / 1e3 / math.max(1e-9, wall * cores))
    sample("spark.driver_gap_s", ops.map(_.driverGapS).sum)
  }
}
