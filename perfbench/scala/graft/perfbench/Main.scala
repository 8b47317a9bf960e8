package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * writes a spec file and starts this main with it; the main sets the
  * session up, runs the workload's timed window (and, for `--trace 1`, a
  * second, traced window), and writes what it measured and every result
  * digest to the spec's `result` file for run.py to check and report.
  *
  *   Main <spec.json>               run one benchmark invocation
  *   Main --oracle-sql <out.json>   dump SparkEntry.oracleSql
  *   Main --session-start <dir>     start and stop a session (the build
  *                                  records the classes this loads)
  */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--oracle-sql")) {
      val o = mapper.createObjectNode()
      graft.SparkEntry.oracleSql.foreach { case (k, v) => o.put(k, v) }
      Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(o))
      return
    }
    if (args.headOption.contains("--session-start")) {
      val dir = Paths.get(args(1))
      val cpus = Runtime.getRuntime.availableProcessors
      val s = Run.session(cpus, dir)
      Run.warmup(s, cpus)
      s.range(1000).selectExpr("id", "CAST(id AS STRING) AS v")
        .write.parquet(dir.resolve("p").toString)
      s.read.parquet(dir.resolve("p").toString).collect()
      s.stop()
      return
    }
    val spec = mapper.readTree(Files.readString(Paths.get(args(0))))
    val run = new Run(spec)
    try run.execute()
    catch {
      case e: Throwable =>
        run.out.put("fatal", s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(spec.get("result").asText()),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(run.out))
      run.stop()
    }
  }
}

/** What one unit of a workload measured. `run` is the unit's wall time;
  * `incr` the ingest workload's next-day run; `ops` the latency of each
  * operation (a query, or an incremental ingest) in seconds. */
final case class UnitResult(run: Double, incr: Option[Double], ops: Seq[Double],
    detail: ObjectNode)

/** Accumulates per-layer times and counts (traced window only). */
final class Layers {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized(m(k) = m.getOrElse(k, 0.0) + v)
  def time[A](k: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally add(k, (System.nanoTime() - t0) / 1e9)
  }
  def toMap: Map[String, Double] = synchronized(m.toMap)
}

trait Workload {
  /** Untimed, once, after setup. */
  def prepare(tracer: Option[Tracer], layers: Layers): Unit = ()
  def unit(k: Int, tracer: Option[Tracer], layers: Layers): UnitResult
}

object Run {
  /** A session configured like graft.Bench's, with its scratch space
    * inside `work`. */
  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed generic warm-up: a scan, an aggregate and a shuffle. */
  def warmup(s: SparkSession, cpus: Int): Unit = {
    s.range(0, 2000000L, 1, cpus).selectExpr("sum(id)").collect()
    s.range(0, 200000L, 1, cpus).selectExpr("id % 1000 AS k")
      .groupBy("k").count().collect()
  }
}

final class Run(val spec: JsonNode) {
  val out: ObjectNode = Main.mapper.createObjectNode()
  private val workload = spec.get("workload").asText()
  private val units = spec.get("units").asInt()
  private val trace = spec.get("trace").asBoolean()
  private val cpus = spec.get("cpus").asInt()
  val work: Path = Paths.get(spec.get("work").asText())
  private var spark: SparkSession = _

  private val digests = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  def str(k: String): String = spec.get(k).asText()
  def strs(k: String): Seq[String] = spec.get(k).elements().asScala.map(_.asText()).toSeq

  /** Records one operation's outcome; returns its result when it succeeded. */
  def op[A](name: String)(body: => A): Option[A] = {
    synchronized(attempted += 1)
    try Some(body)
    catch {
      case e: Throwable =>
        synchronized {
          failed += 1
          errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        }
        None
    }
  }

  def noteDigest(name: String, d: String): Unit = synchronized {
    digests.getOrElseUpdate(name, mutable.LinkedHashSet.empty) += d
  }

  /** Heap in use after full collections. Spark's ContextCleaner frees the
    * blocks of collected broadcasts and RDDs asynchronously (it polls its
    * reference queue every 100 ms), so the reading collects, waits for it
    * and collects again until the heap stops shrinking; read at once, it
    * came out bimodal. */
  private def heapMb(): Double = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var settled = false
    var rounds = 0
    while (!settled && rounds < 10) {
      Thread.sleep(250)
      val now = used()
      settled = last - now < (1L << 20)
      last = math.min(last, now)
      rounds += 1
    }
    last / 1048576.0
  }

  def stop(): Unit = if (spark != null) spark.stop()

  def execute(): Unit = {
    // Set-up, several times: the first cycle runs from JVM start, later
    // ones rebuild the session in the warm JVM.
    val cycles = spec.get("setup_cycles").asInt()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setup = (0 until cycles).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = Run.session(cpus, work)
      Run.warmup(spark, cpus)
      if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1000.0
      else (System.nanoTime() - t0) / 1e9
    }
    putArray(out, "setup_cycles_s", setup)

    val wl: Workload = workload match {
      case "ingest" => new IngestWorkload(this, spark)
      case _ => new QueryWorkload(this, spark, strs("queries"), spec.get("clients").asInt())
    }
    wl.prepare(None, new Layers)

    // host-load diagnostic of the traced run (never used to rescale
    // anything): a fixed shuffle probe before and after the windows
    val probeBefore = if (trace) Seq(graft.Bench.calibShuffleOnce(spark)) else Nil
    // untimed units warm JIT, codegen and file metadata: unit times keep
    // falling over the first units while the JIT compiles the hot paths
    val warm = (1 to spec.get("warm_units").asInt()).map { k =>
      graft.Bench.resetSharedState(spark)
      wl.unit(-k, None, new Layers)
    }
    out.set("warm_units", arr(warm.map(unitJson)))

    val timed = window(wl, units, None, new Layers)
    out.set("units", arr(timed.map(unitJson)))
    // read once, after the window: every unit starts from reset state, so
    // the last unit's live heap stands for all, and settling the heap after
    // each unit would add seconds of sleeps between the timed units
    out.put("peak_heap_mb", heapMb())

    if (trace) {
      val tracer = new Tracer(spark)
      val layers = new Layers
      tracer.start()
      wl.prepare(Some(tracer), layers)
      val t0 = System.nanoTime()
      tracer.counters.storagePeakBytes = 0L
      val before = { tracer.drain(); tracer.counters.snapshot }
      val unitCounters = mutable.ArrayBuffer.empty[Map[String, Long]]
      // two units: enough for the unit-to-unit repeat check, and the
      // per-layer sums cover the same work whatever --seconds is
      val traced = tracer.span(s"workload $workload", "bench") {
        window(wl, 2, Some(tracer), layers, unitCounters)
      }
      val t1 = System.nanoTime()
      tracer.stop()
      val after = tracer.counters.snapshot
      out.set("traced_units", arr(traced.map(unitJson)))
      val d = after.map { case (k, v) => k -> (v - before(k)) }
      val wall = (t1 - t0).toDouble
      // the layer calls' own totals, then the listener-derived ones
      val perLayer = layers.toMap ++ Map(
        "operators.plan_s" -> (if (workload == "ingest") 0.0 else d("plan_ns") / 1e9),
        "functions.codegen_fallback_exprs" -> d("fallback_exprs").toDouble,
        "functions.wscg_stages" -> d("wscg_stages").toDouble,
        "spark.jobs" -> d("jobs").toDouble,
        "spark.stages" -> d("stages").toDouble,
        "spark.tasks" -> d("tasks").toDouble,
        "spark.shuffle_write_bytes" -> d("shuffle_write_bytes").toDouble,
        "spark.shuffle_read_bytes" -> d("shuffle_read_bytes").toDouble,
        "spark.spill_bytes" -> d("spill_bytes").toDouble,
        "spark.executor_run_s" -> d("executor_run_ns") / 1e9,
        "spark.executor_cpu_s" -> d("executor_cpu_ns") / 1e9,
        "spark.gc_s" -> d("gc_ns") / 1e9,
        "spark.driver_gap_s" -> (wall - tracer.counters.jobCoverage(t0, t1)) / 1e9,
        "spark.slot_busy_ratio" -> d("task_busy_ns") / (wall * cpus),
        "spark.task_wait_s" -> d("task_wait_ns") / 1e9,
        "spark.task_failures" -> d("task_failures").toDouble,
        "spark.storage_peak_bytes" -> tracer.counters.storagePeakBytes.toDouble)
      val pl = Main.mapper.createObjectNode()
      perLayer.toSeq.sortBy(_._1).foreach { case (k, v) => pl.put(k, v) }
      out.set("per_layer", pl)
      val uc = Main.mapper.createArrayNode()
      unitCounters.foreach { m =>
        val o = Main.mapper.createObjectNode()
        m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
        uc.add(o)
      }
      out.set("unit_counters", uc)
      out.put("spans_file", writeSpans(tracer.allSpans).toString)
    }
    if (trace) putArray(out, "probe_s", probeBefore :+ graft.Bench.calibShuffleOnce(spark))

    val dg = Main.mapper.createObjectNode()
    digests.foreach { case (q, ds) =>
      val a = dg.putArray(q)
      ds.foreach(a.add)
    }
    out.set("digests", dg)
    out.put("attempted", attempted)
    out.put("failed", failed)
    val e = out.putArray("errors")
    errors.foreach(e.add)
  }

  /** Runs `n` units back to back, each from reset shared state. */
  private def window(wl: Workload, n: Int, tracer: Option[Tracer],
      layers: Layers,
      unitCounters: mutable.ArrayBuffer[Map[String, Long]] = mutable.ArrayBuffer.empty)
      : Seq[UnitResult] = {
    val res = mutable.ArrayBuffer.empty[UnitResult]
    while (res.size < n) {
      graft.Bench.resetSharedState(spark)
      val before = tracer.map { t => t.drain(); t.counters.snapshot }
      val r = tracer match {
        case Some(t) => t.span(s"unit ${res.size + 1}", "bench")(wl.unit(res.size + 1, tracer, layers))
        case None => wl.unit(res.size + 1, tracer, layers)
      }
      tracer.foreach { t =>
        t.drain()
        val after = t.counters.snapshot
        unitCounters += after.map { case (k, v) => k -> (v - before.get(k)) }
      }
      res += r
    }
    res.toSeq
  }

  private def writeSpans(spans: Seq[Span]): Path = {
    val dir = work.resolve("trace")
    Files.createDirectories(dir)
    val p = dir.resolve("spans.jsonl")
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val lines = spans.sortBy(_.start).map { s =>
      val o = Main.mapper.createObjectNode()
      o.put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("layer", s.layer).put("start_ms", (s.start - t0) / 1e6)
        .put("end_ms", (s.end - t0) / 1e6)
      Main.mapper.writeValueAsString(o)
    }
    Files.write(p, lines.asJava)
    p
  }

  private def unitJson(u: UnitResult): ObjectNode = {
    val o = u.detail.deepCopy()
    o.put("run_s", u.run)
    u.incr.foreach(o.put("incr_s", _))
    putArray(o, "ops_s", u.ops)
    o
  }

  private def arr(xs: Seq[ObjectNode]) = {
    val a = Main.mapper.createArrayNode()
    xs.foreach(a.add)
    a
  }

  def putArray(o: ObjectNode, k: String, xs: Seq[Double]): Unit = {
    val a = o.putArray(k)
    xs.foreach(x => a.add(x))
  }
}

/** `curate` (one client running the query list in order) and `adhoc` (a
  * closed loop: `clients` threads share the seeded batch, each sending its
  * next query when its previous one returned). */
final class QueryWorkload(run: Run, spark: SparkSession, queries: Seq[String],
    clients: Int) extends Workload {
  private val dir = run.str("sf_dir")
  // the EtlOps queries are the transform chain's own expressions
  private val transformQueries = (1 to 11).map(i => f"q$i%02d_").toSet

  private def query(q: String, tracer: Option[Tracer], parent: Long,
      layers: Layers): Option[Double] = {
    val fn = graft.SparkEntry.queries(q)
    val t0 = System.nanoTime()
    def body(): (String, Long) = {
      val df = fn(spark, dir)
      val (d, qe) = Digest.withPlan(df)
      (d, Tracer.planNs(qe))
    }
    run.op(q) {
      val (d, planNs) = tracer match {
        case Some(t) => t.span(q, "operators", parent)(body())
        case None => body()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      run.noteDigest(q, d)
      if (tracer.isDefined) {
        val exec = wall - planNs / 1e9
        layers.add("operators.exec_s", exec)
        layers.add(s"operators.${q}_s", exec)
        if (transformQueries(q.take(4))) layers.add("transforms.exec_s", exec)
      }
      wall
    }
  }

  override def unit(k: Int, tracer: Option[Tracer], layers: Layers): UnitResult = {
    val parent = tracer.map(_.root).getOrElse(0L)
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val t0 = System.nanoTime()
    if (clients == 1) queries.foreach(q => query(q, tracer, parent, layers).foreach(lat.add))
    else {
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (1 to clients).map { c =>
        new Thread(() => {
          var i = next.getAndIncrement()
          while (i < queries.size) {
            query(queries(i), tracer, parent, layers).foreach(lat.add)
            i = next.getAndIncrement()
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    val wall = (System.nanoTime() - t0) / 1e9
    UnitResult(wall, None, lat.asScala.toSeq, Main.mapper.createObjectNode())
  }
}
