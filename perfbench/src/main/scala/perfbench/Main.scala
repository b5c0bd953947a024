package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Benchmark entry point (launched by `perfbench/run.py`, which builds the
  * classes and prepares a private run directory).
  *
  *   --workload queries|ingest  --seed N
  *   --seconds S  --trace 0|1  --sf F  --expected FILE  --run-dir DIR
  *   --data-dir DIR  --nproc N  --record FILE  --commit ID
  *
  * Run shape: start a session on every core the JVM sees, generate the
  * tables into `--data-dir` unless they are there already, run the
  * workload's checked warm-up pass (set-up), its fixed count of untimed
  * warm passes, then timed passes until `--seconds` have passed and the
  * workload's fixed minimum is reached (with `--trace 1` alternating
  * untraced and traced). The last stdout
  * line is the result JSON: end-to-end metrics, or per-layer metrics when
  * traced.
  *
  * Other modes: `--gen-data DIR --sf F` writes the tables only;
  * `--digest-dump DIR --out FILE --sf F` writes the expected digests from
  * a `graft.Verify` dump directory; `--print-queries` lists the queries.
  */
object Main {
  val OlapQueries: Seq[String] = Seq("q01_scan", "q02_filter", "q07_loop_join",
    "q08_hash_join", "q14_pipeline", "q22_typed")

  val CurateQueries: Seq[String] = Seq("x64_curate")

  /** BASELINE.md mapping: query -> (input table, reference ns per row). */
  val Baseline: Map[String, (String, Double)] = Map(
    "q01_scan" -> ("lineitem", 377.74e3 / 1e4),
    "q02_filter" -> ("lineitem", 566.01e3 / 1e4),
    "q22_typed" -> ("orders", 7.2109e6 / 1e4),
    "q07_loop_join" -> ("supplier", 37.994e6 / 1e4),
    "q08_hash_join" -> ("lineitem", 17.105e6 / 1e4),
    "q14_pipeline" -> ("lineitem", 17.105e6 / 1e4))


  /** Per-layer metrics every workload produces: the traced result line.
    * A count or ratio of a layer a workload does not use reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ops.construct_ms" -> "ms", "ops.construct_jobs" -> "count",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "plans.exchanges" -> "count", "plans.reused_exchanges" -> "count", "plans.scans" -> "count",
    "plans.inmemory_scans" -> "count", "plans.barrier_scans" -> "count",
    "engine.session_s" -> "s", "engine.warmup_s" -> "s", "engine.exec_ms" -> "ms",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.stage_run_s" -> "s", "engine.stage_cpu_s" -> "s", "engine.shuffle_write_mb" -> "MB",
    "engine.shuffle_read_mb" -> "MB", "engine.spill_mb" -> "MB", "engine.driver_gap_ms" -> "ms",
    "engine.sentinel_s" -> "s", "engine.heap_live_peak_mb" -> "MB",
    "catalog.scan_rows" -> "count", "catalog.scan_mb" -> "MB", "catalog.log_files" -> "count",
    "catalog.bytes_written_per_user_byte" -> "ratio",
    "mvcc.log_rows_per_live_row" -> "ratio", "mvcc.compactions" -> "count",
    "mvcc.entries_reclaimed" -> "count", "mvcc.space_amp" -> "ratio",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB", "streaming.rows_per_s" -> "1/s",
    "olap.baseline_x" -> "ratio", "trace.overhead_ratio" -> "ratio")

  /** Layer timings only one workload has (a constant 0 on the other), kept
    * in the run record rather than the result line. */
  val LayerDetail: Seq[(String, String)] = Seq(
    "olap.query_p50_ms" -> "ms", "curate.query_p50_ms" -> "ms",
    "catalog.append_ms" -> "ms", "catalog.compact_ms" -> "ms",
    "mvcc.snapshot_ms" -> "ms", "mvcc.redundancy_ms" -> "ms",
    "mvcc.read_p50_ms" -> "ms", "mvcc.commit_p50_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.batch_p50_ms" -> "ms")

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--print-queries"))) {
      println((OlapQueries ++ CurateQueries).mkString(","))
      return
    }
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val sf = opts.getOrElse("sf", "0.01").toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    val nproc = opts.get("nproc").map(_.toInt).getOrElse(cores)
    val t0 = System.nanoTime()
    val spark = graft.engine.GraftSession
      .builder(master = s"local[$cores]", shufflePartitions = cores, appName = "perfbench")
      .config("spark.sql.warehouse.dir", opts.getOrElse("run-dir", ".") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      if (opts.contains("gen-data")) DataGen.write(opts("gen-data"), sf)
      else if (opts.contains("digest-dump")) writeDigests(spark, opts("digest-dump"), opt("out"), sf)
      else run(spark, opts, sf, nproc, sessionS)
    } finally spark.stop()
  }

  private def writeDigests(spark: org.apache.spark.sql.SparkSession, dump: String,
      out: String, sf: Double): Unit = {
    val queries = (OlapQueries ++ CurateQueries).sorted
    val body = queries.map { q =>
      val d = Digest.of(spark.read.parquet(s"$dump/$q"))
      s"""    "$q": {"rows": ${d.rows}, "digest": "${d.digest}"}"""
    }.mkString(",\n")
    Files.writeString(Paths.get(out), s"""{\n  "sf": $sf,\n  "queries": {\n$body\n  }\n}\n""")
  }

  private def readExpected(path: String): Map[String, Digest.Result] = {
    val node = new ObjectMapper().readTree(Files.readString(Paths.get(path))).get("queries")
    node.fieldNames.asScala.map { q =>
      val n = node.get(q)
      q -> Digest.Result(n.get("rows").asLong, n.get("digest").asText)
    }.toMap
  }

  /** Fixed CPU spin on every core; its wall time rises when something
    * else competes for the machine. */
  def sentinel(nproc: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until nproc).map { k =>
      val th = new Thread(() => {
        var x = 0x9e3779b97f4a7c15L + k; var acc = 0L; var i = 0
        while (i < (1 << 26)) {
          x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
          acc += x * 0x2545f4914f6cdd1dL; i += 1
        }
        if (acc == 42L) System.err.println("sentinel")
      })
      th.start(); th
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Old-generation occupancy right after a full collection, in MB. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getUsage.getUsed.toDouble).sum / 1048576.0
  }

  private def run(spark: org.apache.spark.sql.SparkSession, opts: Map[String, String],
      sf: Double, nproc: Int, sessionS: Double): Unit = {
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val runDir = opts("run-dir")
    val tracer = new Tracer(spark)
    val h = new Harness(spark, tracer, seed)
    val sizes = DataGen.sizes(sf)
    val tableRows = Map("lineitem" -> sizes.lineitem, "orders" -> sizes.orders,
      "supplier" -> sizes.supplier)
    lazy val expected = readExpected(opts("expected"))
    val w: Workload = workloadName match {
      case "queries" =>
        new QueryWorkload(h, OlapQueries, CurateQueries, expected, tableRows, Baseline)
      case "ingest" =>
        new Composite(h, Seq(new MvccWorkload(h, runDir, sizes.orders), new StreamWorkload(h, runDir)))
      case other => sys.error(s"unknown workload $other")
    }

    // The tables depend only on the scale: they are generated once per
    // checkout (untimed) and read, never written, by every run. Set-up is
    // the session start plus one checked warm-up pass over a fresh run
    // directory: it builds every layout the workload needs and checks
    // every answer.
    val dataDir = opts("data-dir")
    if (!Files.exists(Paths.get(dataDir, "_COMPLETE"))) {
      val tGen = System.nanoTime()
      val tmp = s"$runDir/tables"
      DataGen.write(tmp, sf)
      Files.createFile(Paths.get(tmp, "_COMPLETE"))
      Files.createDirectories(Paths.get(dataDir).getParent)
      Files.move(Paths.get(tmp), Paths.get(dataDir), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      System.err.println(f"[perfbench] tables generated in ${(System.nanoTime() - tGen) / 1e9}%.2fs")
    }
    val tWarm = System.nanoTime()
    w.check(dataDir)
    h.sweep()
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + warmupS
    System.err.println(f"[perfbench] session $sessionS%.2fs, warm-up and check $warmupS%.2fs")

    val sentinelBefore = sentinel(nproc)
    val passes = scala.collection.mutable.ArrayBuffer[(Int, Boolean, Double, Double)]()
    var heapPeak = 0.0
    for (p <- 0 until w.warmPasses) {
      h.pass = p
      w.pass(dataDir, p)
    }
    val tStart = System.nanoTime()
    var p = w.warmPasses
    while (p < w.warmPasses + w.minPasses || (System.nanoTime() - tStart) / 1e9 < seconds) {
      val tracedPass = traced && (p - w.warmPasses) % 2 == 1
      if (tracedPass) tracer.start()
      h.pass = p
      w.pass(dataDir, p)
      if (tracedPass) tracer.stop()
      val ops = h.results.filter(_.pass == p)
      passes += ((p, tracedPass, ops.map(_.ms).sum / 1000.0, ops.map(_.cpuMs).sum / 1000.0))
      heapPeak = math.max(heapPeak, liveHeapMb())
      p += 1
    }
    val sentinelAfter = sentinel(nproc)

    val timed = h.results.filter(_.pass >= w.warmPasses).toSeq
    val untraced = timed.filterNot(_.traced)
    val plainPasses = passes.filterNot(_._2).map(_._3).toSeq
    // per-operation median over the untraced passes; a typical pass is
    // the sum of those medians
    val perOpByKey = untraced.groupBy(_.key).map { case (k, rs) => k -> Stats.median(rs.map(_.ms)) }
    val perOpCpu = untraced.groupBy(_.key).map { case (k, rs) => k -> Stats.median(rs.map(_.cpuMs)) }
    val layer: Map[String, Double] =
      if (!traced) Map.empty
      else layerMetrics(h, w, timed.filter(_.traced), untraced) ++ Map(
        "engine.session_s" -> sessionS, "engine.warmup_s" -> warmupS,
        "engine.heap_live_peak_mb" -> heapPeak,
        "engine.sentinel_s" -> (sentinelBefore + sentinelAfter) / 2,
        "trace.overhead_ratio" ->
          Stats.median(passes.filter(_._2).map(_._3).toSeq) / Stats.median(plainPasses))
    def pick(names: Seq[(String, String)]): Seq[(String, String, Double)] = names.map { case (n, u) =>
      val v = layer.getOrElse(n, 0.0)
      (n, u, if (v.isNaN || v.isInfinite) 0.0 else v)
    }
    def json(ms: Seq[(String, String, Double)]): String =
      ms.map { case (n, u, v) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    val metrics: Seq[(String, String, Double)] =
      if (traced) pick(PerLayer)
      else Seq(
        ("setup_s", "s", setupS),
        ("pass_cpu_s", "s", perOpCpu.values.sum / 1000.0))

    val record = Map(
      "workload" -> s""""$workloadName"""", "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "nproc" -> nproc.toString, "cores" -> Runtime.getRuntime.availableProcessors.toString,
      "jvm" -> s""""${System.getProperty("java.vm.version")}"""",
      "commit" -> s""""${opts.getOrElse("commit", "unknown")}"""", "sf" -> sf.toString,
      "setup_s" -> s"[$sessionS,$warmupS]", "op_samples" -> untraced.size.toString,
      "op_p50_ms" -> Stats.median(untraced.map(_.ms)).toString,
      "pass_s" -> (perOpByKey.values.sum / 1000.0).toString,
      "passes_s" -> passes.map(_._3).mkString("[", ",", "]"),
      "passes_cpu_s" -> passes.map(_._4).mkString("[", ",", "]"),
      "sentinel_s" -> s"[$sentinelBefore,$sentinelAfter]",
      "op_median_ms" -> perOpByKey.toSeq.sorted.map { case (k, v) => f""""$k":$v%.1f""" }
        .mkString("{", ",", "}"),
      "pass_op_ms" -> h.results.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, rs) =>
        rs.map(r => f""""${r.key}":[${r.ms}%.1f,${r.cpuMs}%.0f]""").mkString("{", ",", "}") }
        .mkString("[", ",", "]"),
      "attempted" -> h.attempted.toString, "failed" -> h.failed.toString,
      "metrics" -> json(metrics), "layer_detail" -> json(if (traced) pick(LayerDetail) else Nil))
    opts.get("record").foreach { path =>
      Files.writeString(Paths.get(path),
        record.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}\n"))
      if (traced) Files.write(Paths.get(path + ".spans.jsonl"), tracer.spansJson.asJava)
    }
    val correct = h.failed == 0
    println(s"""{"correct":$correct,"attempted":${h.attempted},"failed":${h.failed},"metrics":${record("metrics")}}""")
  }

  /** Per-operation means of the engine, plan and layer spans over the
    * traced operations. */
  private def layerMetrics(h: Harness, w: Workload, ops: Seq[OpResult],
      untraced: Seq[OpResult]): Map[String, Double] = {
    val t = h.tracer
    t.drain()
    val ids = ops.map(_.id).toSet
    val spans = t.spans.filter(s => ids.contains(s.op)).toSeq
    def spanMean(name: String): Double = {
      val xs = spans.filter(_.name == name)
      if (xs.isEmpty) 0.0 else xs.map(_.ms).sum / xs.map(_.op).distinct.size
    }
    val n = math.max(1, ops.size).toDouble
    // per op: the action window is the "engine.action"/"streaming.batch"
    // spans where present, else the whole operation
    val perOp = ops.map { o =>
      val own = spans.filter(_.op == o.id)
      val construct = own.filter(_.name == "ops.construct")
      val actions = own.filter(s => s.name == "engine.action" || s.name == "streaming.batch")
      val windows = if (actions.nonEmpty) actions.map(s => (s.startMs, s.endMs))
        else Seq((o.startMs, o.endMs))
      val stages = windows.flatMap { case (a, b) => t.stagesIn(a, b) }
      val jobs = windows.flatMap { case (a, b) => t.jobsIn(a, b) }
      val cJobs = construct.flatMap(s => t.jobsIn(s.startMs, s.endMs))
      val gap = windows.map { case (a, b) => Tracer.uncovered(a, b, stages) }.sum
      Map(
        "engine.exec_ms" -> windows.map { case (a, b) => b - a }.sum,
        "engine.jobs" -> jobs.size.toDouble, "engine.stages" -> stages.size.toDouble,
        "engine.tasks" -> stages.map(_.tasks).sum.toDouble,
        "engine.stage_run_s" -> stages.map(_.runMs).sum / 1000.0,
        "engine.stage_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
        "engine.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / 1048576.0,
        "engine.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / 1048576.0,
        "engine.spill_mb" -> stages.map(_.spill).sum / 1048576.0,
        "engine.driver_gap_ms" -> gap,
        "ops.construct_jobs" -> cJobs.size.toDouble)
    }
    val engine = perOp.flatMap(_.keys).distinct.map(k => k -> perOp.map(_(k)).sum / n).toMap
    val ph = t.phases.filter(p => ids.contains(p._1)).map(_._2).toSeq
    def phase(k: String) = Stats.mean(ph.map(_.getOrElse(k, 0L).toDouble))
    val pc = t.plans.filter(p => ids.contains(p._1)).map(_._2).toSeq
    val planN = math.max(1, pc.size).toDouble
    val sum = pc.foldLeft(PlanCounts())(_ + _)
    engine ++ Map(
      "ops.construct_ms" -> spans.filter(_.name == "ops.construct").map(_.ms).sum / n,
      "plans.analysis_ms" -> phase("analysis"), "plans.optimization_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "plans.exchanges" -> sum.exchanges / planN, "plans.reused_exchanges" -> sum.reused / planN,
      "plans.scans" -> sum.scans / planN, "plans.inmemory_scans" -> sum.inMemory / planN,
      "plans.barrier_scans" -> sum.barriers / planN,
      "catalog.scan_rows" -> sum.scanRows / planN, "catalog.scan_mb" -> sum.scanBytes / planN / 1048576.0,
      "catalog.append_ms" -> spanMean("catalog.append"), "catalog.compact_ms" -> spanMean("catalog.compact"),
      "mvcc.snapshot_ms" -> Stats.mean(ops.filter(_.kind == "read").map(_.ms)),
      "mvcc.redundancy_ms" -> spanMean("mvcc.redundancy")) ++ w.layerMetrics(ops, untraced)
  }
}
