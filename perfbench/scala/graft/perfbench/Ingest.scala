package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.{IngestionConfig, JsonConfig, TableConfig}
import graft.plans.{FreshnessCheck, IngestionJob, NoopNotifier}
import graft.plans.IngestionJob.{ParquetSink, RunReport, Sink}
import graft.sources.{Discovery, FileMarkerLedger, MarkerEntry, MarkerLedger}

/** The paper's own job. A unit is a cold `IngestionJob.run` into a fresh
  * ParquetSink + FileMarkerLedger (its wall time is the unit's `run`);
  * then the next day's drops land (untimed) and the incremental run plus
  * `FreshnessCheck` follow (`incr`); in the first warm-up unit, an
  * untimed re-run that must ingest nothing. Reports go to the result file for
  * run.py's checks. */
final class IngestWorkload(run: Run, spark: SparkSession) extends Workload {
  private var cfg: IngestionConfig = _
  private val nextDay: Seq[(Path, Path)] =
    run.spec.get("next_day").elements().asScala.map { p =>
      (Paths.get(p.get(0).asText()), Paths.get(p.get(1).asText()))
    }.toSeq
  private val fresh = run.spec.get("freshness")
  private val today = LocalDate.parse(fresh.get("today").asText())
  private def rules[A](k: String)(f: (String, String, String) => A): Seq[A] =
    fresh.get(k).elements().asScala.map { r =>
      f(r.get(0).asText(), r.get(1).asText(), r.get(2).asText())
    }.toSeq
  private val statics = rules("static")((e, s, d) =>
    FreshnessCheck.StaticRule(e, s, LocalDate.parse(d)))
  private val graces = rules("grace")((e, s, d) =>
    FreshnessCheck.GraceRule(e, s, d.toInt))

  override def prepare(tracer: Option[Tracer], layers: Layers): Unit = {
    val tablesJson = Files.readString(Paths.get(run.str("tables_json")))
    val configJson = Files.readString(Paths.get(run.str("ingestion_config_json")))
    cfg = layers.time("config.parse_s") {
      JsonConfig.parseIngestionConfig(configJson, JsonConfig.parseTables(tablesJson))
    }
  }

  private def freshness(): Seq[Seq[String]] = {
    val s = spark
    import s.implicits._
    val sources = cfg.enabledTables.map(_.source).toSet
    val parts = Discovery.discover(cfg.dataFolder, mailbox = false)
      .filter(f => sources(f.entity) && cfg.environments.contains(f.environment))
      .map(f => (f.environment, f.entity, java.sql.Date.valueOf(f.date)))
      .toDF("environment", "source_name", "date")
    FreshnessCheck.checkAndNotify(spark, FreshnessCheck.latestPerSource(parts),
      statics, graces, today, NoopNotifier).toSeq.map(r => Seq(r._1, r._2, r._3))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  override def unit(k: Int, tracer: Option[Tracer], layers: Layers): UnitResult = {
    val base = run.work.resolve("ingest")
    deleteTree(base)
    nextDay.foreach { case (_, dest) => Files.deleteIfExists(dest) }
    val dir = base.resolve(s"u$k")
    Files.createDirectories(dir)
    val sinkRoot = dir.resolve("sink")
    val ledgerPath = dir.resolve("markers.tsv")
    val plainLedger = new FileMarkerLedger(ledgerPath)
    val plainSink = new ParquetSink(sinkRoot.toString)
    val probe = tracer.map(t => new IngestProbe(t, layers, sinkRoot))
    val ledger: MarkerLedger = probe.map(_.ledger(plainLedger)).getOrElse(plainLedger)
    val sink: Sink = probe.map(_.sink(plainSink)).getOrElse(plainSink)

    def ingest(name: String): Option[RunReport] = run.op(name) {
      probe.foreach(_.beginRun(name))
      tracer match {
        case Some(t) => t.span(name, "plans")(IngestionJob.run(spark, cfg, ledger, sink))
        case None => IngestionJob.run(spark, cfg, ledger, sink)
      }
    }
    val t0 = System.nanoTime()
    val cold = ingest("cold run")
    val t1 = System.nanoTime()
    // the next day's drops land (not the program's work: untimed)
    nextDay.foreach { case (src, dest) =>
      Files.createDirectories(dest.getParent)
      Files.copy(src, dest, StandardCopyOption.REPLACE_EXISTING)
    }
    val t2 = System.nanoTime()
    val incr = ingest("incremental run")
    val stale = run.op("freshness check") {
      tracer match {
        case Some(t) => layers.time("plans.freshness_s")(t.span("freshness", "plans")(freshness()))
        case None => freshness()
      }
    }
    val t3 = System.nanoTime()
    // the idempotency check runs in the first warm-up unit only
    val rerun = if (k == -1) ingest("idempotent re-run") else None
    probe.foreach { p =>
      for (c <- cold; i <- incr) {
        layers.add("sources.files_discovered", c.discovered + i.discovered)
        layers.add("sources.skipped_incr", i.skippedByMarker)
        layers.add("sources.discovered_incr", i.discovered)
      }
    }

    val detail = Main.mapper.createObjectNode()
    def report(k: String, r: Option[RunReport]): Unit = r.foreach { r =>
      val o = detail.putObject(k)
      o.put("discovered", r.discovered).put("skipped", r.skippedByMarker)
        .put("rows", r.rowsWritten)
      val a = o.putArray("ingested")
      r.ingested.foreach(a.add)
    }
    report("cold", cold)
    report("incr", incr)
    report("rerun", rerun)
    stale.foreach { rows =>
      val a = detail.putArray("stale")
      rows.foreach { r => val x = a.addArray(); r.foreach(x.add) }
    }
    detail.put("sink", sinkRoot.toString).put("ledger", ledgerPath.toString)
    val (files, bytes) = IngestProbe.dirStats(sinkRoot)
    detail.put("sink_files", files).put("sink_bytes", bytes)
    val incrS = (t3 - t2) / 1e9
    UnitResult((t1 - t0) / 1e9, Some(incrS), if (incr.isDefined) Seq(incrS) else Nil, detail)
  }
}

/** The traced run's view into an ingest run, from outside the job: the
  * MarkerLedger and Sink handed to `IngestionJob.run` are wrapped. The
  * first ledger read of a run ends its discovery (the job lists and
  * filters files, then reads the ledger once); the time between the
  * previous ledger or sink event and a sink write is the group's frame
  * build (read + the CigTransforms pipeline); each group's frame is also
  * executed once into Spark's `noop` sink to time the transforms alone. */
final class IngestProbe(t: Tracer, layers: Layers, sinkRoot: Path) {
  private var runName = ""
  private var runStart = 0L
  private var lastEvent = 0L
  private var discovered = false

  def beginRun(name: String): Unit = {
    runName = name
    runStart = System.nanoTime()
    lastEvent = runStart
    discovered = false
  }

  private def done(): Unit = lastEvent = System.nanoTime()

  def ledger(inner: MarkerLedger): MarkerLedger = new MarkerLedger {
    override def exists(src: String, env: String, table: String): Boolean = {
      val r = layers.time("sources.ledger_read_s")(t.span("ledger exists", "sources")(inner.exists(src, env, table)))
      done(); r
    }
    override def touch(e: MarkerEntry): Unit = {
      layers.time("sources.ledger_touch_s")(t.span("ledger touch", "sources")(inner.touch(e)))
      layers.add("sources.ledger_touches", 1)
      done()
    }
    override def all: Seq[MarkerEntry] = {
      if (!discovered) {
        discovered = true
        val now = System.nanoTime()
        val key = if (runName == "cold run") "sources.discover_cold_s" else "sources.discover_incr_s"
        if (runName != "idempotent re-run") layers.add(key, (now - runStart) / 1e9)
        t.interval("discover", "sources", runStart, now)
      }
      val r = layers.time("sources.ledger_read_s")(t.span("ledger read", "sources")(inner.all))
      done(); r
    }
  }

  def sink(inner: Sink): Sink = new Sink {
    override def write(df: DataFrame, config: TableConfig, environment: String): Unit = {
      val now = System.nanoTime()
      layers.add("transforms.plan_s", (now - lastEvent) / 1e9)
      t.interval(s"build ${config.targetName}/$environment", "transforms", lastEvent, now)
      layers.time("transforms.exec_s")(t.span(s"noop ${config.targetName}/$environment", "transforms") {
        df.write.format("noop").mode("overwrite").save()
      })
      val target = sinkRoot.resolve(config.targetName)
      val (f0, b0) = IngestProbe.dirStats(target)
      layers.time("plans.sink_write_s")(t.span(s"sink write ${config.targetName}/$environment", "plans") {
        inner.write(df, config, environment)
      })
      val (f1, b1) = IngestProbe.dirStats(target)
      layers.add("plans.sink_files", f1 - f0)
      layers.add("plans.sink_bytes", b1 - b0)
      layers.add("plans.groups", 1)
      done()
    }
  }
}

object IngestProbe {
  /** (data files, bytes) under a sink directory; Spark's hidden and
    * marker files (`.crc`, `_SUCCESS`) are not data. */
  def dirStats(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
        }.toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
}
