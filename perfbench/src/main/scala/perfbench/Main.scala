package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{BenchUtil, SparkEntry, Tables}

/** The benchmark's JVM: one workload, one seed, one closed loop.
  *
  * Set-up (session, table resolution, store preload, one untimed warm-up
  * pass that also dumps every query's output for the oracle check) runs
  * first; then a fixed number of whole passes over the workload's
  * operations (sized to `--seconds`), each pass in a seeded order. One
  * client thread issues the next operation only after the previous one
  * returns. Results go to `--out` as JSON; run.py turns them into the
  * benchmark's result line.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <tablesDir> --work <scratchDir> --out <result.json>
  *   [--trace-out <records.jsonl>] [--queries <name,name,...>]
  */
object Main {

  private val Tables10 = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def compileMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Host CPU time stolen from this VM, in clock ticks (diagnostic only). */
  private def stealTicks(): Long =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong)
      .getOrElse(0L)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** One executed operation of the timed window. */
  final case class Rec(pass: Int, op: Op, ms: Double, cpuMs: Double, buildMs: Double,
                       error: Option[String], counters: Map[String, Double] = Map.empty,
                       groups: Seq[String] = Nil, triggers: Seq[Map[String, Double]] = Nil,
                       store: Map[String, Double] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val data = args("data")
    val work = args("work")
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // set-up phases, seconds since JVM start at the end of each
    val setupParts = mutable.LinkedHashMap[String, Double]()
    def mark(phase: String): Unit =
      setupParts(phase) = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.oracle.auxDir", s"$work/aux")
      .config("spark.graft.scratchDir", s"$work/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    BenchUtil.autoSizeForData(spark, data)
    mark("session")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val layers = mutable.LinkedHashMap[String, Double]()

    // tables: first and second resolution of every input table
    val resolve = Tables10.map { t =>
      val t0 = System.nanoTime(); Tables.t(spark, data, t)
      val t1 = System.nanoTime(); Tables.t(spark, data, t)
      ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
    }
    layers("tables.resolve_cold_ms") = resolve.map(_._1).sum
    layers("tables.resolve_cached_ms") = resolve.map(_._2).sum
    mark("tables")

    val queryNames = args.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Workloads.queriesOf(workload))
    val store = if (workload == "store_rw") Some(new StoreModel(spark, work, seed)) else None
    store.foreach(Workloads.preloadStore(spark, _))
    mark("preload")
    val pass: Seq[Op] = queryNames.map(new QueryOp(spark, data, _)) ++
      store.map(Workloads.storePass(spark, _)).getOrElse(Nil)

    // warm-up pass, untimed: JIT, caches, first-run store builds, and the
    // query dumps run.py checks against DuckDB
    val dumps = s"$work/dumps"
    val warmErrors = mutable.LinkedHashMap[String, String]()
    val warmMs = mutable.LinkedHashMap[String, Double]()
    pass.foreach { op =>
      spark.sparkContext.setJobGroup(op.name, s"warm:${op.kind}")
      val t0 = System.nanoTime()
      try op.warm(dumps).foreach(warmErrors(op.name) = _)
      catch { case e: Throwable => warmErrors(op.name) = String.valueOf(e.getMessage).take(500) }
      finally spark.sparkContext.clearJobGroup()
      warmMs(op.name) = (System.nanoTime() - t0) / 1e6
    }
    writeOracleSql(dumps, queryNames, s"$work/aux")
    mark("warmup")
    layers("jvm.jit_ms") = compileMs().toDouble

    // timed window: a fixed number of whole passes, sized to `seconds`
    val passCount = math.max(1, math.ceil(seconds / Workloads.nominalPassSeconds(workload)).toInt)
    val rng = new Random(seed)
    val recs = mutable.ArrayBuffer[Rec]()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val gc0 = gcMs()
    val windowStart = System.nanoTime()
    var passes = 0
    // per pass: JIT compile time and host steal, to explain noisy passes
    val passDiag = mutable.ArrayBuffer[Map[String, Double]]()
    while (passes < passCount) {
      val (jit0, steal0, pass0) = (compileMs(), stealTicks(), System.nanoTime())
      rng.shuffle(pass).foreach { op =>
        op.before()
        val traceStore = store.filter(_ => trace)
        val listing = traceStore.map(_.files()).getOrElse(Map.empty[String, Long])
        val userBefore = traceStore.map(_.userBytesWritten).getOrElse(0L)
        val readShape = traceStore.filter(_ => op.kind == "get" || op.kind == "prefix_scan")
          .map(readStats(_, listing)).getOrElse(Map.empty)
        tracer.foreach(_.beginOp())
        spark.sparkContext.setJobGroup(op.name, op.kind)
        val c0 = processCpuNs()
        val t0 = System.nanoTime()
        val err = try { op.run(); None }
        catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(500)) }
        val t1 = System.nanoTime()
        val c1 = processCpuNs()
        spark.sparkContext.clearJobGroup()
        val traced = tracer.map(_.endOp()).map { case (c, g, t) =>
          (c + ("plans.analysis_ms" -> (c.getOrElse("plans.analysis_ms", 0.0) + op.analysisMs)), g, t)
        }
        val error = err.orElse(op.after())
        val written = traceStore.map { m =>
          val added = m.files().filter { case (f, _) => !listing.contains(f) }.values.sum
          Map("written_bytes" -> added.toDouble, "user_bytes" -> (m.userBytesWritten - userBefore).toDouble)
        }.getOrElse(Map.empty)
        recs += Rec(passes, op, (t1 - t0) / 1e6, (c1 - c0) / 1e6, op.buildMs, error,
          traced.map(_._1).getOrElse(Map.empty), traced.map(_._2).getOrElse(Nil),
          traced.map(_._3).getOrElse(Nil), readShape ++ written)
      }
      val mine = recs.filter(_.pass == passes)
      passDiag += Map("ms" -> mine.map(_.ms).sum, "cpu_ms" -> mine.map(_.cpuMs).sum,
        "jit_ms" -> (compileMs() - jit0).toDouble,
        "steal_cores" -> (stealTicks() - steal0) / 100.0 / ((System.nanoTime() - pass0) / 1e9))
      passes += 1
    }
    val windowWallS = (System.nanoTime() - windowStart) / 1e9
    val windowGcMs = (gcMs() - gc0).toDouble

    // live heap: full GCs with pauses between them, so the ContextCleaner
    // can release the broadcasts and shuffles the first GC made unreachable
    val retainedMb = (0 until 3).map { _ =>
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    // each window figure is taken per pass, then the median over passes,
    // so one pass slowed by a burst of host load does not move it
    val byPass = recs.toSeq.groupBy(_.pass).values.toSeq
    val e2e = Seq(
      "setup_s" -> setupS,
      "ops_per_s" -> median(byPass.map(p => p.size / (p.map(_.ms).sum / 1e3))),
      "op_p50_ms" -> median(byPass.map(p => median(p.map(_.ms)))),
      "cpu_ms_per_op" -> median(byPass.map(p => p.map(_.cpuMs).sum / p.size)),
      "retained_mb" -> retainedMb)

    if (trace) {
      layers ++= perLayer(recs.toSeq, passes)
      layers("jvm.gc_ms") = windowGcMs / passes
      layers ++= functionsLayer(spark, data)
      args.get("trace-out").foreach(p => writeTrace(p, workload, seed, recs.toSeq, layers, e2e))
      tracer.foreach(_.close())
    }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "passes" -> passes,
      "attempted" -> recs.size,
      "queries" -> queryNames,
      "attempts_by_name" -> recs.groupBy(_.op.name).map { case (k, v) => k -> v.size },
      "failed_by_name" -> recs.filter(_.error.isDefined).groupBy(_.op.name).map { case (k, v) => k -> v.size },
      "errors" -> recs.flatMap(r => r.error.map(e => s"${r.op.name}: $e")).distinct.take(20),
      "warm_errors" -> warmErrors,
      "metrics" -> e2e.toMap,
      "setup_parts" -> setupParts,
      "warm_ms" -> warmMs,
      "window" -> Map("wall_s" -> windowWallS, "gc_ms" -> windowGcMs, "passes" -> passDiag),
      "per_layer" -> layers)
    Files.writeString(Paths.get(args("out")), Json(out))
    spark.stop()
  }

  /** Per-layer metrics of the traced window: per-op medians of times,
    * per-pass sums of work counts (see the README for which is which).
    */
  private def perLayer(recs: Seq[Rec], passes: Int): collection.Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val queries = recs.filter(_.op.kind == "query")
    out("operators.build_ms") = median(queries.map(_.buildMs))
    out("operators.exec_ms") = median(queries.map(r => r.ms - r.buildMs))
    def perPass(k: String) = recs.map(_.counters.getOrElse(k, 0.0)).sum / passes
    def perOp(k: String) = median(recs.filter(_.counters.contains(k)).map(_.counters(k)))
    Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "task_gc_ms", "sched_wait_ms",
      "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes",
      "shuffle_fetch_wait_ms", "spill_bytes", "codegen_compiles").foreach(k => out(s"operators.$k") = perPass(s"operators.$k"))
    out("operators.peak_exec_mem_mb") =
      recs.map(_.counters.getOrElse("operators.peak_exec_mem_mb", 0.0)).maxOption.getOrElse(0.0)
    Seq("analysis_ms", "optimization_ms", "planning_ms").foreach(k => out(s"plans.$k") = perOp(s"plans.$k"))
    PlanCounts.Kinds.foreach(k => out(s"plans.$k") = perPass(s"plans.$k"))
    Seq("input_bytes", "input_rows").foreach(k => out(s"tables.$k") = perPass(s"tables.$k"))

    def kindMs(kind: String) = median(recs.filter(_.op.kind == kind).map(_.ms))
    out("sources.put_ms") = kindMs("put")
    out("sources.delete_ms") = kindMs("delete")
    out("sources.get_ms") = kindMs("get")
    out("sources.prefix_scan_ms") = kindMs("prefix_scan")
    out("sources.compact_ms") = kindMs("compact")
    val reads = recs.filter(r => r.op.kind == "get" || r.op.kind == "prefix_scan")
    Seq("files", "read_amp", "space_amp").foreach(k =>
      out(s"sources.$k") = median(reads.flatMap(_.store.get(k))))
    val userBytes = recs.map(_.store.getOrElse("user_bytes", 0.0)).sum
    out("sources.write_amp") =
      if (userBytes > 0) recs.map(_.store.getOrElse("written_bytes", 0.0)).sum / userBytes else 0.0

    val trig = recs.flatMap(_.triggers)
    out("streaming.triggers") = trig.size.toDouble / passes
    Seq("trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_offsets_ms",
      "latest_offset_ms", "state_commit_ms").foreach(k => out(s"streaming.$k") = median(trig.map(_(k))))
    Seq("state_rows", "input_rows").foreach(k => out(s"streaming.$k") = trig.map(_(k)).sum / passes)
    out
  }

  /** Store shape before a read: part files, stored ÷ live rows (read
    * amplification) and stored ÷ live cell bytes (space amplification).
    */
  private def readStats(m: StoreModel, files: Map[String, Long]): Map[String, Double] =
    Map("files" -> files.size.toDouble,
      "read_amp" -> m.storedRows().toDouble / math.max(1L, m.liveRows),
      "space_amp" -> files.values.sum.toDouble / math.max(1L, m.liveBytes))

  /** One public column function over a fixed corpus frame, ns per row. */
  private def functionsLayer(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    import graft.functions._
    Seq[SparkSession => Unit](NGramShingles.register, MinHashSig.register, SimHash64.register,
      CosineSimilarity.register, Int8Quantize.register).foreach(_(spark))
    val docs = spark.range(20).crossJoin(Tables.t(spark, dir, "documents")
      .select(tokens(col("text")).as("toks"))).select("toks").cache()
    val shingled = docs.select(NGramShingles.shinglesFast(col("toks"), 5).as("sh")).cache()
    val embs = spark.range(50).crossJoin(Tables.t(spark, dir, "embeddings")
      .select("embedding")).select("embedding").cache()
    val (nDocs, nEmbs) = (docs.count(), embs.count())
    shingled.count()
    val probe = typedLit(Array.tabulate(64)(i => if (i % 2 == 0) 0.125f else -0.125f))
    def nsPerRow(df: DataFrame, rows: Long): Double = median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble / rows
    })
    val out = Seq(
      "functions.shingles_ns_per_row" ->
        nsPerRow(docs.select(NGramShingles.shinglesFast(col("toks"), 5)), nDocs),
      "functions.minhash_ns_per_row" ->
        nsPerRow(shingled.select(MinHashSig.minhashFast(col("sh"), 64)), nDocs),
      "functions.simhash_ns_per_row" -> nsPerRow(docs.select(SimHash64.simhash64(col("toks"))), nDocs),
      "functions.cosine_ns_per_row" ->
        nsPerRow(embs.select(CosineSimilarity.cosineFast(col("embedding"), probe)), nEmbs),
      "functions.int8_quantize_ns_per_row" ->
        nsPerRow(embs.select(Int8Quantize.quantize(col("embedding"))), nEmbs))
    Seq(docs, shingled, embs).foreach(_.unpersist())
    out
  }

  /** The oracle SQL of the dumped queries, in the layout check_oracle.py reads. */
  private def writeOracleSql(dumps: String, names: Seq[String], aux: String): Unit = {
    new java.io.File(dumps).mkdirs()
    val sql = names.flatMap(n => SparkEntry.oracleSql.get(n).map(s =>
      n -> s.replace(Tables.AuxPlaceholder, aux))).toMap
    Files.writeString(Paths.get(dumps, "oracle_sql.json"), Json(sql))
  }

  /** One JSON line per timed operation, then one summary line. */
  private def writeTrace(path: String, workload: String, seed: Long, recs: Seq[Rec],
                         layers: collection.Map[String, Double], e2e: Seq[(String, Double)]): Unit = {
    val lines = recs.map { r =>
      Json(mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "seed" -> seed, "pass" -> r.pass, "op" -> r.op.name,
        "kind" -> r.op.kind, "ms" -> r.ms, "cpu_ms" -> r.cpuMs, "build_ms" -> r.buildMs,
        "error" -> r.error, "groups" -> r.groups, "counters" -> r.counters,
        "store" -> r.store, "triggers" -> r.triggers))
    } :+ Json(mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "summary" -> true,
      "end_to_end" -> e2e.toMap, "per_layer" -> layers))
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
