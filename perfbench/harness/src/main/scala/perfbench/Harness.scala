package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.DataFrame

/** Runs one workload of graft's declared queries (`SparkEntry.queries`)
  * and writes raw timings as JSON; `perfbench/run.py` turns them into
  * metrics and checks the outputs.
  *
  * A run times its set-up from `--launched-ms` (when the caller started
  * this JVM) until graft's session is ready; with `--setup-only 1` that is
  * all it does. It then makes one checking pass that writes every output
  * to parquet, `WarmupPasses` noop passes, and timed passes for
  * `--seconds` (at least `MinPasses`). Every pass runs the workload's
  * queries in an order drawn from `--seed` and clears the cache after each
  * query.
  * Each query's three graft calls are timed apart: the declaration
  * (graft.operators' eager work), `executedPlan` (Catalyst and the
  * graft.plans strategies) and the action, a write to Spark's noop sink
  * that produces every output column. With `--trace 1` every other timed
  * pass carries a listener whose per-query, per-layer records go to
  * `--trace-out`; the passes without it give the tracing overhead.
  */
object Harness {

  /** The queries of each workload, a fixed sample of one family of
    * `SparkEntry.queries` sized so that a pass takes a few seconds on
    * local[2]. The cache is cleared after every query. */
  val workloads: Map[String, Vector[String]] = Map(
    // the paper's weekly DAG (q1-q7) and the AsOf join that plans through
    // graft.plans: short queries, where scans and scheduling dominate
    "etl_sql" -> Vector("q1_agg", "q2_pair_counts", "q3_upsert_latest",
      "q4_delete_detect", "q5_volume_metrics", "q6_explode_count",
      "q7_member_roster", "q28_asof_exec"),
    // eager declaration builds: index builds and candidate verification,
    // standing state kept across passes, a graph loop
    "llm_dedup" -> Vector("dedup_exact", "dedup_minhash_lsh",
      "dedup_clusters_inc", "dedup_embedding", "graph_pagerank"))

  /** Noop passes after the checking pass, before timing starts. */
  val WarmupPasses = 8
  /** Fewest timed passes, however short `--seconds` is; a traced run
    * needs at least two with the listener and two without. */
  val MinPasses = 5

  final case class Exec(query: String, buildS: Double, planS: Double,
      actionS: Double, wallS: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = opt("data")
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val loadStart = loadAvg()
    val names = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)

    val spark = graft.Sessions.build(cpus, appName = "graft-perfbench")
    val setupS = (System.currentTimeMillis() - opt("launched-ms").toLong) / 1e3
    if (opt("setup-only") == "1") {
      Files.writeString(Paths.get(opt("out")), json.writeValueAsString(Map("setup_s" -> setupS)), UTF_8)
      spark.stop()
      return
    }
    Files.writeString(Paths.get(opt("oracles")), graft.Verify.oracleJson, UTF_8)
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries
    val rng = new Random(seed)
    val heap = new OldGenPeak
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def runQuery(pass: Int, name: String, write: DataFrame => Unit): Exec = {
      sc.setLocalProperty(LayerListener.PassKey, pass.toString)
      sc.setLocalProperty(LayerListener.QueryKey, name)
      var marks = Vector(System.nanoTime())
      def mark(): Unit = marks :+= System.nanoTime()
      val error = try {
        sc.setLocalProperty(LayerListener.PhaseKey, "build")
        val df = queries(name)(spark, dataDir)
        mark()
        sc.setLocalProperty(LayerListener.PhaseKey, "plan")
        df.queryExecution.executedPlan
        mark()
        sc.setLocalProperty(LayerListener.PhaseKey, "action")
        write(df)
        mark()
        None
      } catch { case NonFatal(e) =>
        Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      }
      while (marks.size < 4) mark()
      val d = marks.zip(marks.tail).map { case (a, b) => (b - a) / 1e9 }
      Exec(name, d(0), d(1), d(2), d.sum, error)
    }

    /** One pass over the workload in a fresh seeded order; returns its
      * wall time, the JVM's CPU time over it and the per-query executions. */
    def runPass(pass: Int, write: (String, DataFrame) => Unit,
        listener: Option[LayerListener] = None): (Double, Double, Vector[Exec]) = {
      val (t0, cpu0) = (System.nanoTime(), os.getProcessCpuTime)
      val execs = rng.shuffle(names).map { name =>
        listener.foreach(_.current = (pass, name))
        val e = runQuery(pass, name, df => write(name, df))
        spark.catalog.clearCache()
        e
      }
      ((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - cpu0) / 1e9, execs)
    }

    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    val toParquet: (String, DataFrame) => Unit =
      (name, df) => df.write.mode("overwrite").parquet(s"${opt("check-dir")}/$name")

    // Untimed: the checking pass, which also compiles every query's code
    // and fills standing state, then noop passes while the JIT catches up
    // (pass walls fall for several passes after the first).
    var pass = 0
    val (checkWall, _, checkExecs) = runPass(pass, toParquet)
    val warmup = checkWall +: (1 to WarmupPasses).map { _ =>
      pass += 1
      runPass(pass, noop)._1
    }

    // Timed passes; in a traced run every other one carries the listener.
    val traceOut = if (traced) Some(Files.newBufferedWriter(Paths.get(opt("trace-out")), UTF_8)) else None
    val passes = Vector.newBuilder[Map[String, Any]]
    val t0 = System.nanoTime()
    var nTimed = 0
    heap.recording = true
    while (nTimed < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass += 1
      val listener = if (traced && nTimed % 2 == 0) Some(new LayerListener) else None
      listener.foreach(sc.addSparkListener)
      val (wall, cpu, execs) = runPass(pass, noop, listener)
      listener.foreach { l =>
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(l)
        for (e <- execs; rec <- layerRecords(e, l.of(pass, e.query), cpus)) {
          traceOut.get.write(json.writeValueAsString(
            Map("workload" -> workload, "seed" -> seed, "pass" -> pass) ++ rec))
          traceOut.get.newLine()
        }
      }
      passes += Map("pass" -> pass, "traced" -> listener.isDefined, "wall_s" -> wall, "cpu_s" -> cpu,
        "queries" -> execs.map(e => Map("query" -> e.query, "build_s" -> e.buildS,
          "plan_s" -> e.planS, "action_s" -> e.actionS, "wall_s" -> e.wallS,
          "error" -> e.error)))
      nTimed += 1
    }
    heap.recording = false
    traceOut.foreach(_.close())

    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "queries" -> names,
      "context" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "local_n" -> cpus,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
        "spark" -> spark.version),
      "setup_s" -> setupS,
      "warmup_s" -> warmup,
      "check_errors" -> checkExecs.flatMap(e => e.error.map(e.query -> _)).toMap,
      "check_s" -> checkExecs.map(e => e.query -> e.wallS).toMap,
      "heap_live_peak_mb" -> heap.peakBytes / (1 << 20).toDouble,
      "passes" -> passes.result())
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(result), UTF_8)
    spark.stop()
  }

  /** One record per layer for one query execution of a traced pass. */
  def layerRecords(e: Exec, c: Counters, cpus: Int): Seq[Map[String, Any]] = {
    val mb = (1 << 20).toDouble
    val busyS = LayerListener.unionMs(c.taskSpans) / 1e3
    val idleS = math.max(0.0, e.wallS - busyS)
    def rec(layer: String, metrics: (String, Any)*) =
      Map("query" -> e.query, "layer" -> layer, "wall_s" -> e.wallS,
        "error" -> e.error, "metrics" -> metrics.toMap)
    Seq(
      rec("operators", "build_s" -> e.buildS, "build_jobs" -> c.buildJobs,
        "build_self_s" -> math.max(0.0, e.buildS - LayerListener.unionMs(c.buildJobSpans) / 1e3)),
      rec("plans", "plan_s" -> e.planS),
      rec("exec", "action_s" -> e.actionS),
      rec("scheduler", "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "idle_s" -> idleS, "nonwork_frac" -> (if (e.wallS > 0) idleS / e.wallS else 0.0)),
      rec("executor", "task_run_s" -> c.runMs / 1e3, "task_cpu_s" -> c.cpuNs / 1e9,
        "gc_s" -> c.gcMs / 1e3, "deserialize_s" -> c.deserializeMs / 1e3,
        "core_util" -> (if (e.wallS > 0) c.runMs / 1e3 / (cpus * e.wallS) else 0.0),
        "failed_tasks" -> c.failedTasks, "spill_mb" -> c.spillBytes / mb),
      rec("shuffle", "write_mb" -> c.shuffleWriteBytes / mb,
        "read_mb" -> c.shuffleReadBytes / mb, "fetch_wait_s" -> c.fetchWaitMs / 1e3),
      rec("sources", "scan_mb" -> c.scanBytes / mb, "scan_rows" -> c.scanRows),
      rec("kernels", "single_task_stages" -> c.singleTaskStages,
        "single_task_s" -> c.singleTaskRunMs / 1e3),
      rec("driver", "result_mb" -> c.resultBytes / mb),
      rec("cache", "written_mb" -> c.cacheWrittenBytes / mb,
        "peak_mb" -> c.cachePeakBytes / mb))
  }

  private def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case NonFatal(_) => "" }
}

/** Highest old-generation occupancy right after a GC, over the time
  * `recording` is set, from the JVM's GC notifications. Under the parallel
  * collector a minor GC leaves promoted garbage in the old generation, so
  * this bounds the live data from above until a major GC runs. */
final class OldGenPeak extends NotificationListener {
  @volatile var recording = false
  @volatile var peakBytes = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter => em.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (recording && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, usage) =>
        if (pool.contains("Old Gen") || pool.contains("Tenured"))
          synchronized { peakBytes = math.max(peakBytes, usage.getUsed) }
      }
    }
}
