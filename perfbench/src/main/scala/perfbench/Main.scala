package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's driver process: one run of one workload.
  *
  * `perfbench/run.py` builds the arguments and starts one JVM per run,
  * so every run begins with a fresh session, empty memos and no
  * persisted RDDs. The process writes one JSON file (`--out`): set-up
  * times, the timed part's wall and CPU time, one record per layer call
  * (with the Spark counters charged to it when `--trace 1`), and the
  * output checks. `run.py` turns that file into the metrics.
  *
  * `--mode catalog` instead writes the query surface (module → query
  * names, and each query's oracle SQL) without starting Spark.
  */
object Main {
  final case class Check(name: String, ok: Boolean, detail: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.get("mode").contains("catalog")) writeCatalog(kv("out"))
    else run(kv)
  }

  /** Query modules, in the order `graft.SparkEntry` merges them. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = {
    import graft.queries._
    Seq(
      ("Relational", Relational.queries, Relational.oracleSql),
      ("GraphQueries", GraphQueries.queries, GraphQueries.oracleSql),
      ("PipelineQueries", PipelineQueries.queries, PipelineQueries.oracleSql),
      ("PipelineDedupQueries", PipelineDedupQueries.queries, PipelineDedupQueries.oracleSql),
      ("PipelineSimilarityQueries", PipelineSimilarityQueries.queries,
        PipelineSimilarityQueries.oracleSql),
      ("IoQueries", IoQueries.queries, IoQueries.oracleSql))
  }

  private def writeCatalog(out: String): Unit = {
    val mods = modules.map { case (m, q, _) => Json.str(m) + ":" + Json.arr(q.keys.toSeq.sorted.map(Json.str)) }
    val oracle = modules.flatMap(_._3).sortBy(_._1).map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
    Files.writeString(Paths.get(out),
      s"""{"modules":{${mods.mkString(",")}},"oracle":{${oracle.mkString(",")}}}""")
    ()
  }

  /** Every job, stage and task of the run so far is charged to a span:
    * the rows sum to the listener's own total and nothing is untagged. */
  private def attribution(rows: Map[String, Counters], total: Counters): Check = {
    val sum = new Counters
    rows.foreach { case (tag, c) => if (tag != Probe.Untagged) sum.add(c) }
    val untagged = rows.get(Probe.Untagged).map(_.asMap.map(_._2).sum).getOrElse(0.0)
    Check("attribution", sum.asMap == total.asMap && untagged == 0.0,
      s"rows ${sum.asMap.mkString(",")} vs total ${total.asMap.mkString(",")}; untagged $untagged")
  }

  private def run(kv: Map[String, String]): Unit = {
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val traced = kv("trace") == "1"
    val cores = kv("cores").toInt
    val setupReps = kv("setup-reps").toInt
    // a fresh driver: no session has existed in this JVM before this one
    require(SparkSession.getActiveSession.isEmpty && SparkSession.getDefaultSession.isEmpty)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", kv("tmp"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    val sc = spark.sparkContext

    val probe = new Probe
    if (traced) sc.addSparkListener(probe)
    val tracer = new Tracer(sc, traced)
    val wl: Workload = workload match {
      case "graphem_routed" => new GraphemRouted(spark, tracer, seed, traced)
      case "graphem_distributed" => new GraphemDistributed(spark, tracer, seed, traced)
      case "query_mix" => new QueryMix(spark, tracer, kv("data"), kv("plan"), kv("results"), seed)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up repeated in-process; the run reports the median
    val setupTimes = (1 to setupReps).map { _ =>
      val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
    }
    require(sc.getPersistentRDDs.isEmpty, "the timed part must start with no persisted RDDs")

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcs.map(_.getCollectionTime).sum
    val jit0 = jit.getTotalCompilationTime
    val cpu0 = os.getProcessCpuTime
    val setupIds = tracer.all.map(_.id).toSet
    val t0 = System.nanoTime()
    wl.timed()
    val runS = (System.nanoTime() - t0) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val gcS = (gcs.map(_.getCollectionTime).sum - gc0) / 1e3
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val cachedRdds = sc.getPersistentRDDs.size
    val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val timedIds = tracer.all.map(_.id).toSet -- setupIds
    val (rowsAtEnd, totals) = probe.snapshot(sc)

    val checks = wl.check() ++ (if (traced) Seq(attribution(rowsAtEnd, totals)) else Nil)
    val seedSpread = wl.seedSpread()
    val allSpans = tracer.all
    val (counters, _) = probe.snapshot(sc)

    def counterJson(c: Counters): String =
      c.asMap.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    val spansJson = allSpans.map { s =>
      val c = counters.get(s.id.toString).map(counterJson).getOrElse("null")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"label":${Json.str(s.label)},""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""s":${Json.num(s.seconds)},"ok":${s.ok},"error":${Json.str(s.error)},""" +
        s""""timed":${timedIds(s.id)},"counters":$c}"""
    }
    val checksJson = checks.map(c =>
      s"""{"name":${Json.str(c.name)},"ok":${c.ok},"detail":${Json.str(c.detail)}}""")
    val untagged = counters.get(Probe.Untagged).map(counterJson).getOrElse("null")
    Files.writeString(Paths.get(kv("out")),
      s"""{"workload":${Json.str(workload)},"seed":$seed,"traced":$traced,""" +
        s""""cores":$cores,"session_ready_ms":$sessionReadyMs,""" +
        s""""setup_s":${Json.arr(setupTimes.map(Json.num))},""" +
        s""""run_s":${Json.num(runS)},"cpu_s":${Json.num(cpuS)},""" +
        s""""jvm":{"gc_s":${Json.num(gcS)},"jit_s":${Json.num(jitS)},"peak_heap_mb":${Json.num(peakHeapMb)}},""" +
        s""""tables":{"cached_rdds":$cachedRdds,"cached_mb":${Json.num(cachedMb)}},""" +
        s""""totals":${counterJson(totals)},"untagged":$untagged,""" +
        s""""seed_spread":${Json.num(seedSpread)},""" +
        s""""checks":${Json.arr(checksJson)},"spans":${Json.arr(spansJson)}}""")
    spark.stop()
  }
}

/** Minimal JSON encoding for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
