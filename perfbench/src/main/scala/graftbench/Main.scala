package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.graftbench.Internals

/** One benchmark run: set up a session several times, run one workload's
  * ops in a closed loop for a fixed time, check their outputs, and write
  * the raw record (op latencies, host stamp, state counters and, when
  * traced, spans) for run.py to turn into metrics.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <value check 0|1> <tables dir> <inputs dir> <out dir>
  *        graftbench.Main oracles <out.json>
  */
object Main {
  final class CheckFailed(msg: String) extends Exception(msg)

  final case class OpRecord(name: String, startNs: Long, durNs: Long,
      ok: Boolean, error: String, phase: String)

  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("oracles")) {
      val reg = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(args(1)),
        Json(SelectNames.names.map(n => n -> reg(n)).toMap))
      return
    }
    val Array(workload, seedS, secondsS, traceS, checkS, tablesDir, inputsDir, outDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(outDir)
    Files.createDirectories(work)
    val warehouse = work.resolve("warehouse").toAbsolutePath.toString

    val loadBefore = Host.loadAvg1m()
    val calibSec = Host.calibrate()
    val wl: Workload = workload match {
      case "chsql_select" => new Registry(SelectNames.names, tablesDir, inputsDir)
      case "chsql_ddl" => new DdlSessions(tablesDir, inputsDir, warehouse)
      case "lineage_catalog" => new LineageChain(inputsDir)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up: session creation plus the warm-up table scans, repeated at
    // least three times and until the warm ones (all but the JVM's cold
    // first) add up to 3 s; setup_s is the median of all of them
    val counters = new Counters
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    while (setups.size < 3 || (setups.size < 11 && setups.tail.sum < 3.0)) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Host.session(cpus, warehouse)
      wl.warm(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.addSparkListener(counters)
    val tr = new Tracer(traced, spark, counters)
    val conf0 = spark.conf.getAll
    val state = new StateProbe(spark, warehouse, conf0)

    // The closed loop: one client, the next op only after the previous one
    // ends. A run measures whole cycles of the workload's op list until
    // `seconds` have passed, so every run measures the same ops; the first
    // cycle runs cold, as a new session would. A traced run runs a warm-up
    // cycle, then the same cycle untraced, traced and untraced again: the
    // traced cycle against the mean of the two around it gives the tracing
    // overhead.
    val ops = ArrayBuffer.empty[OpRecord]
    val phases =
      if (traced) Seq("warm" -> 0.0, "untraced" -> 0.0, "traced" -> 0.0, "untraced2" -> 0.0)
      else Seq("untraced" -> seconds)
    val wall0 = System.nanoTime()
    val phaseTimes = phases.map { case (phase, secs) =>
      tr.on = phase == "traced"
      wl.recording = tr.on
      val cpu0 = Host.processCpuSec()
      val start = System.nanoTime()
      val deadline = start + (secs * 1e9).toLong
      var i = 0
      while (i == 0 || i % wl.cycle != 0 || System.nanoTime() < deadline) {
        val (name, body) = wl.op(i)
        tr.op = i
        val t0 = System.nanoTime()
        val err = try { tr.span("op")(body(spark, tr)); null }
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] op $i $name failed: " +
              s"${e.getClass.getName}: ${e.getMessage}")
            s"${e.getClass.getName}: ${e.getMessage}"
          }
        ops += OpRecord(name, t0 - wall0, System.nanoTime() - t0, err == null, err, phase)
        state.sample(name)
        i += 1
      }
      phase -> Map("wall_s" -> (System.nanoTime() - start) / 1e9,
        "cpu_s" -> (Host.processCpuSec() - cpu0))
    }.toMap
    tr.on = false
    wl.recording = traced

    val probes = if (traced) wl.probes(spark) else Map.empty[String, Double]
    val heapMb = Host.retainedHeapMb()
    val checks = if (checkS == "1") wl.finalChecks(spark, work.resolve("check"))
      else Map.empty[String, Any]
    spark.stop()
    val loadAfter = Host.loadAvg1m()

    val record = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setups.toSeq,
      "ops" -> ops.map(o => Map("name" -> o.name, "start_s" -> o.startNs / 1e9,
        "dur_s" -> o.durNs / 1e9, "ok" -> o.ok, "error" -> o.error,
        "phase" -> o.phase)).toSeq,
      "phases" -> phaseTimes,
      "retained_heap_mb" -> heapMb,
      "state" -> state.report,
      "probes" -> probes,
      "checks" -> checks,
      "trace_bookkeeping_s" -> tr.bookkeepingNs / 1e9,
      "host" -> Map("nproc" -> cpus, "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadAfter, "calib_s" -> calibSec,
        "process_cpu_s" -> Host.processCpuSec(),
        "process_wall_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0))
    Files.writeString(work.resolve("record.json"), Json(record))
    if (traced)
      Files.write(work.resolve("spans.jsonl"), tr.toJsonLines.toSeq.asJava)
  }

  def readJson(p: Path): JsonNode = mapper.readTree(p.toFile)

  /** Bench.once's materialization: the trailing presentation sort is
    * stripped, then the planned query runs as is and its rows are counted.
    * Analysis, optimization and planning are forced one by one so each
    * gets its own span. */
  def materialize(spark: SparkSession, df: DataFrame, tr: Tracer): Long = {
    val analyzed = tr.span("analysis")(df.queryExecution.analyzed)
    val plan = analyzed match {
      case s: Sort if s.global => s.child
      case p => p
    }
    val run = ColumnBridge.ofRows(spark, plan)
    tr.span("optimization")(run.queryExecution.optimizedPlan)
    tr.span("planning")(run.queryExecution.executedPlan)
    tr.span("exec")(run.queryExecution.toRdd.count())
  }
}

object Host {
  def session(cpus: Int, warehouse: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  def loadAvg1m(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def processCpuSec(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Bench's fixed CPU-bound calibration loop: 200M xorshift steps, one
    * pass. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after full GCs, with a pause between them so Spark's
    * ContextCleaner can drop the blocks of RDDs the first GC collected. */
  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def dirSize(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirSize).sum).getOrElse(0L)
}

/** Session-state hygiene, sampled after every op: reports the maxima, the
  * spark.conf keys that drifted and, per counter, the first op after which
  * it read non-zero. */
final class StateProbe(spark: SparkSession, warehouse: String,
    conf0: Map[String, String]) {
  private val max = scala.collection.mutable.LinkedHashMap(
    "cached_relations" -> 0, "persistent_rdds" -> 0, "conf_drift" -> 0,
    "leftover_dirs" -> 0)
  private val firstOp = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val driftKeys = scala.collection.mutable.SortedSet.empty[String]

  private def leftoverDirs(): Int = {
    def walk(f: File, depth: Int): Int = Option(f.listFiles).map(_.toSeq).getOrElse(Nil)
      .filter(_.isDirectory).map { d =>
        val hit = if (d.getName.startsWith("graft_rw_") ||
          d.getName.startsWith("__graft_old_")) 1 else 0
        hit + (if (depth > 0) walk(d, depth - 1) else 0)
      }.sum
    walk(new File(warehouse), 1)
  }

  def sample(op: String): Unit = {
    val now = spark.conf.getAll
    // a key newly set to its own default changes nothing a query sees
    def atDefault(k: String, v: String): Boolean =
      Internals.confDefault(k).exists(_.equalsIgnoreCase(v))
    val drifted = (now.keySet ++ conf0.keySet).filter { k =>
      now.get(k) != conf0.get(k) &&
        !(conf0.get(k).isEmpty && now.get(k).exists(atDefault(k, _)))
    }
    driftKeys ++= drifted
    Seq("cached_relations" -> Internals.cachedRelations(spark),
      "persistent_rdds" -> spark.sparkContext.getPersistentRDDs.size,
      "conf_drift" -> drifted.size,
      "leftover_dirs" -> leftoverDirs()).foreach { case (k, v) =>
      if (v > 0 && !firstOp.contains(k)) firstOp(k) = op
      max(k) = math.max(max(k), v)
    }
  }

  def report: Map[String, Any] = max.toMap ++ Map(
    "conf_drift_keys" -> driftKeys.toSeq, "first_op" -> firstOp.toMap)
}
