package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.onebrc.OneBrc
import graft.perfbench.Stats.{Span, Tally}

/** One benchmark run in a fresh JVM (see perfbench/README.md).
  *
  *   Harness --workload brc_text|brc_text_10k|suite --input DIR|SPEC
  *           --seed N --seconds N --trace 0|1 --spawn-ms EPOCH_MS
  *           --out FILE --work DIR --cpus N [--probe DIR] [--setup-only 1]
  *   Harness --mode calibrate --input SPEC --out FILE --work DIR [--dump DIR]
  *
  * Drives the program only through its public calls: OneBrc's V2 reader and
  * tenths aggregate for the flagship, SparkEntry.queries and Tables.t for
  * the suite. Writes one JSON object to --out; run.py turns it into the
  * benchmark's result line.
  */
object Harness {
  private def err(s: String): Unit = System.err.println(s"[perfbench] $s")

  final class Ctx(val spark: SparkSession, val tr: Tracer, val rec: Recorder,
      val cpus: Int) {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def unit(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (failures.size < 20) failures += what; err(s"FAILED: $what") }
    }
    /** Epoch-ns windows of every warm pass, traced or not. */
    val passWindows = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- flagship ----------------------------------------------------------

  final class Brc(ctx: Ctx, dir: String) {
    import ctx._
    val path = s"$dir/measurements.txt"
    private val manifest = readManifest(dir)
    val rows: Long = manifest("rows").toLong
    val bytes: Long = new File(path).length
    // split so the scaled-down file keeps the paper-scale task shape:
    // about four waves of splits per core
    val split: Long = math.max(1L << 20, (bytes + 4L * cpus - 1) / (4L * cpus))
    /** Expected answer, sorted as Spark sorts strings. */
    val expected: Vector[(String, (Double, Double, Double))] = {
      require(bytes == manifest("bytes").toLong,
        s"$path is $bytes bytes, manifest says ${manifest("bytes")} (truncated?)")
      val ts = Files.readAllLines(Paths.get(s"$dir/tallies.tsv"), UTF_8).asScala
        .map { l =>
          val f = l.split('\t')
          f(0) -> Tally(f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong)
        }
      require(ts.map(_._2.count).sum == rows, s"tallies of $dir do not sum to $rows rows")
      ts.map { case (n, t) => n -> Stats.expectedRow(t) }.toVector
        .sortBy(_._1)(Stats.utf8Order)
    }

    def query(): DataFrame =
      OneBrc.brcAggTenths(OneBrc.readMeasurementsV2(spark, path, split))

    def check(got: Array[Row], what: String): Unit = {
      val actual = got.toVector.map(r =>
        r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      val ok = actual == expected
      if (!ok) {
        val diff = actual.zipAll(expected, null, null).find { case (a, e) => a != e }
        err(s"$what: ${actual.size} rows vs ${expected.size} expected; first difference " +
          s"got ${diff.map(_._1)} expected ${diff.map(_._2)}")
      }
      unit(ok, what)
    }

    /** One pass: construct, execute, collect the answer. Returns ns. */
    def pass(label: String): Long = tr.span("pass") {
      val t0 = System.nanoTime()
      val df = tr.span("construct") { query() }
      val out = tr.span("execute") { df.collect() }
      val dt = System.nanoTime() - t0
      check(out, label)
      dt
    }
  }

  def readManifest(dir: String): Map[String, String] =
    Files.readAllLines(Paths.get(s"$dir/manifest"), UTF_8).asScala
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap

  // ---- operator suite ----------------------------------------------------

  final case class Expect(name: String, rows: Long, fingerprint: Option[String])

  final class Suite(ctx: Ctx, specFile: String) {
    import ctx._
    private val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(specFile))
    val dir: String = new File(new File(specFile).getParentFile,
      spec.get("sf_dir").asText).getCanonicalPath
    val list: Vector[Expect] = spec.get("queries").elements().asScala.map { q =>
      Expect(q.get("name").asText, q.get("rows").asLong,
        Option(q.get("fingerprint")).filterNot(_.isNull).map(_.asText))
    }.toVector
    val tables: Map[String, Long] = spec.get("tables").fields().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap

    // set-up checks: every name resolves, every table file is whole
    private val known = graft.SparkEntry.queries
    locally {
      val missing = list.map(_.name).filterNot(known.contains)
      require(missing.isEmpty,
        s"suite names missing from SparkEntry.queries: ${missing.mkString(", ")}")
      tables.foreach { case (t, b) =>
        val f = new File(s"$dir/$t.parquet")
        require(f.length == b, s"$f is ${f.length} bytes, expected $b")
      }
    }
    val tableFiles: Seq[String] = tables.keys.toSeq.sorted.map(t => s"$dir/$t.parquet")

    /** One replay of the list; returns (pass ns, per-query ns of the
      * queries that succeeded). */
    def pass(label: String): (Long, Seq[Long]) = tr.span("pass") {
      val t0 = System.nanoTime()
      val lat = list.flatMap { q =>
        val q0 = System.nanoTime()
        try {
          tr.span("query") {
            val df = tr.span("construct") { known(q.name)(spark, dir) }
            tr.span("execute") { df.write.format("noop").mode("overwrite").save() }
          }
          unit(ok = true, "")
          Some(System.nanoTime() - q0)
        } catch {
          case NonFatal(e) =>
            unit(ok = false, s"$label ${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      }
      (System.nanoTime() - t0, lat)
    }

    /** Outside the timed window: each query's row count and fingerprint. */
    def check(): Unit = list.foreach { q =>
      try {
        val (n, fp) = fingerprint(known(q.name)(spark, dir), q.fingerprint.isDefined)
        val ok = n == q.rows && q.fingerprint.forall(fp.contains)
        if (!ok) err(s"check ${q.name}: rows $n fp $fp, expected rows ${q.rows} fp ${q.fingerprint}")
        unit(ok, s"check ${q.name}")
      } catch {
        case NonFatal(e) => unit(ok = false, s"check ${q.name}: ${e.getMessage}")
      }
    }
  }

  /** Expected-value capture for suite.json (run by calibrate.py): per query
    * a cold and a warm timing, row count and fingerprint taken twice (a
    * fingerprint that differs between the two is not stable enough to
    * store), the oracle SQL if any, and optionally a parquet dump of the
    * result for the DuckDB comparison. Streaming members are skipped. */
  def calibrate(spark: SparkSession, specFile: String, dump: Option[String],
      out: java.nio.file.Path): Unit = {
    val ctx = new Ctx(spark, new Tracer("calibrate"), new Recorder, 0)
    val suite = new Suite(ctx, specFile)
    val streaming = graft.streaming.Streaming.queries.keySet
    val oracle = graft.SparkEntry.oracleSql
    val all = new Json
    suite.list.map(_.name).foreach { n =>
      val j = new Json
      if (streaming.contains(n)) j("streaming", 1L)
      else try {
        val fn = graft.SparkEntry.queries(n)
        val cold = timeIt(fn(spark, suite.dir).write.format("noop").mode("overwrite").save())
        val warm = timeIt(fn(spark, suite.dir).write.format("noop").mode("overwrite").save())
        val fps = (1 to 2).map(_ => fingerprint(fn(spark, suite.dir), withHash = true))
        j("cold_s", cold); j("warm_s", warm); j("rows", fps.head._1)
        j.raw("fingerprints", fps.map(f => Json.str(f._2.get)).mkString("[", ",", "]"))
        oracle.get(n).foreach(sql => j.raw("oracle_sql", Json.str(sql)))
        dump.foreach(d => fn(spark, suite.dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$d/$n"))
        err(f"$n cold $cold%.2f warm $warm%.2f rows ${fps.head._1}")
      } catch {
        case NonFatal(e) => j.raw("error", Json.str(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          err(s"$n failed: $e")
      }
      all.raw(n, j.render)
    }
    Files.write(out, all.render.getBytes(UTF_8))
  }

  /** Row count and an order-insensitive fingerprint: the exact sum of every
    * row's xxhash64 (as a decimal, so it cannot overflow). */
  def fingerprint(df: DataFrame, withHash: Boolean): (Long, Option[String]) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    if (!withHash) (d.count(), None)
    else {
      val r = d.agg(count(lit(1)),
        sum(xxhash64(d.columns.map(col).toIndexedSeq: _*).cast(DecimalType(20, 0)))).head()
      (r.getLong(0), Some(Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")))
    }
  }

  // ---- layer probes (traced runs) ----------------------------------------

  /** Read every byte of `files` over `threads` threads; returns seconds. */
  def readAll(files: Seq[String], threads: Int): Double = {
    val ranges = files.flatMap { f =>
      val len = new File(f).length
      val step = math.max(1L, (len + threads - 1) / threads)
      (0L until len by step).map(o => (f, o, math.min(len, o + step)))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val t0 = System.nanoTime()
    try {
      pool.invokeAll(ranges.map { case (f, s, e) =>
        new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val ch = java.nio.channels.FileChannel.open(Paths.get(f))
            val buf = java.nio.ByteBuffer.allocate(4 << 20)
            var pos = s; var sum = 0L
            try while (pos < e) {
              buf.clear(); buf.limit(math.min(buf.capacity.toLong, e - pos).toInt)
              val n = ch.read(buf, pos)
              if (n <= 0) pos = e else { pos += n; sum += buf.get(0) }
            } finally ch.close()
            sum
          }
        }
      }.asJava).asScala.foreach(_.get)
    } finally pool.shutdown()
    (System.nanoTime() - t0) / 1e9
  }

  def timeIt(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  // ---- main --------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val spawnMs = opt.get("spawn-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val cpus = opt.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = opt("work")
    val out = Paths.get(opt("out"))
    val json = new Json

    // ---- set-up: session ready and inputs verified
    val spark = session(cpus, work)
    if (opt.get("mode").contains("calibrate")) {
      calibrate(spark, opt("input"), opt.get("dump"), out); spark.stop(); return
    }
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val ctx = new Ctx(spark, new Tracer(s"$workload-${opt.getOrElse("seed", "0")}"), rec, cpus)
    val brc = if (workload.startsWith("brc")) Some(new Brc(ctx, opt("input"))) else None
    val suite = if (workload == "suite") Some(new Suite(ctx, opt("input"))) else None
    val readyMs = System.currentTimeMillis()
    json("setup_s", (readyMs - spawnMs) / 1000.0)
    if (opt.get("setup-only").contains("1")) {
      // skip Spark's slow stop: run.py wipes the scratch it leaves behind
      Files.write(out, json.render.getBytes(UTF_8)); Runtime.getRuntime.halt(0)
    }

    val tr = ctx.tr
    tr.on = traced; rec.detail = traced
    // ---- first pass in the fresh session
    val first = tr.span("first") {
      brc.map(b => b.pass("first pass") / 1e9)
        .getOrElse(suite.get.pass("first pass")._1 / 1e9)
    }
    json("first_s", first)
    // ---- untimed warm-up: the JIT keeps improving the flagship's scan for
    // several passes; the suite's correctness check (outside every timed
    // window) warms the session the same way
    brc.foreach(b => (1 to 2).foreach(k => tr.span("warmup") { b.pass(s"warm-up $k") }))
    suite.foreach(s => tr.span("check") { s.check() })

    // ---- warm passes for `seconds`; a traced run alternates untraced and
    // traced passes so it can report its own overhead
    val minPasses = 3
    val passNs = mutable.ArrayBuffer.empty[(Long, Boolean)]
    val queryNs = mutable.ArrayBuffer.empty[Long]
    val w0 = System.nanoTime()
    var i = 0
    while (i < minPasses * (if (traced) 2 else 1) || System.nanoTime() - w0 < seconds * 1e9) {
      val tracedPass = traced && i % 2 == 1
      tr.on = tracedPass; rec.detail = tracedPass
      val s0 = tr.now
      val (ns, qs) = brc.map { b => val t = b.pass(s"pass $i"); (t, Seq(t)) }
        .getOrElse(suite.get.pass(s"pass $i"))
      ctx.passWindows += ((s0, tr.now, tracedPass))
      passNs += ((ns, tracedPass)); if (!tracedPass) queryNs ++= qs
      i += 1
    }
    tr.on = traced; rec.detail = traced
    val plain = passNs.filterNot(_._2).map(_._1 / 1e9).toSeq
    val passS = Stats.median(plain)
    // a run has too few samples for the highest percentile with ten beyond
    // it to lie above the median; p90 and the sample count are reported
    val hiPct = 90
    val qs = queryNs.map(_ / 1e9).toSeq
    val memo = (
      spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, rem) => max - rem }.sum / 1048576.0,
      graft.CacheRegistry.storageBytes(spark) / 1048576.0)

    // ---- layer probes (traced only)
    val layers = new Json
    if (traced) probes(ctx, brc, suite, opt.get("probe"), layers)

    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val stages = rec.stageList
    val inputRows = brc.map(_.rows.toDouble).getOrElse {
      val perPass = ctx.passWindows.filterNot(_._3).map { case (s, e, _) =>
        stages.filter(st => st.submitMs * 1000000L >= s && st.submitMs * 1000000L <= e)
          .map(_.inputRecords).sum.toDouble
      }
      Stats.median(perPass.toSeq)
    }
    json("pass_s", passS)
    json("mrows_per_s", inputRows / 1e6 / passS)
    json("query_p50_s", Stats.median(qs))
    json("query_hi_s", Stats.percentile(qs, hiPct))
    json("query_hi_pct", hiPct)
    json("passes", plain.size)
    json.raw("pass_samples_s", plain.map(_.toString).mkString("[", ",", "]"))
    json("query_samples", qs.size)
    json("input_rows_per_pass", inputRows)
    brc.foreach { b => json("input_bytes", b.bytes); json("split_bytes", b.split) }

    if (traced) {
      val tracedPasses = passNs.filter(_._2).map(_._1 / 1e9).toSeq
      layers("trace.overhead_ratio", Stats.median(tracedPasses) / passS)
      layers("memo.storage_mb", memo._1)
      layers("memo.registry_mb", memo._2)
      layers("memo.drops", rec.drops.get)
      passLayers(ctx, layers)
      layers("jvm.jit_ms", Jvm.jitMs)
      layers("jvm.gc_ms", Jvm.gcMs)
      layers("jvm.codecache_mb", Jvm.codeCacheMb)
      writeTrace(ctx, Paths.get(s"$work/trace-${tr.run}.jsonl"))
    }
    json("peak_rss_mb", Jvm.peakRssMb)
    json("attempted", ctx.attempted)
    json("failed", ctx.failed)
    json.raw("failures", ctx.failures.map(Json.str).mkString("[", ",", "]"))
    json.raw("layers", layers.render)
    Files.write(out, json.render.getBytes(UTF_8))
    Runtime.getRuntime.halt(0) // as after set-up: run.py wipes the scratch
  }

  /** io / sources / onebrc / tables probes, each a median of three warm
    * repetitions inside named spans. */
  def probes(ctx: Ctx, brc: Option[Brc], suite: Option[Suite], probeDir: Option[String],
      layers: Json): Unit = {
    import ctx._
    // the suite has no flagship input of its own: its flagship-layer probes
    // run over a small generated file so the layers stay watched
    val b = brc.getOrElse(new Brc(ctx, probeDir.get))
    val rawFiles = suite.map(_.tableFiles).getOrElse(Seq(b.path))
    def rep(name: String)(body: => Unit): Double = {
      body // warm
      Stats.median((1 to 3).map(_ => tr.span(name)(timeIt(body))))
    }
    layers("io.read_s", rep("io.read") { readAll(rawFiles, cpus); () })
    // same noop sink as the parse probe; the constant projection prunes
    // every column, so the reader only splits lines
    val split = rep("sources.split") {
      OneBrc.readMeasurementsV2(spark, b.path, b.split).select(lit(1))
        .write.format("noop").mode("overwrite").save()
    }
    val parse = rep("sources.parse") {
      OneBrc.readMeasurementsV2(spark, b.path, b.split).write.format("noop").mode("overwrite").save()
    }
    val agg = rep("onebrc.agg") { b.query().write.format("noop").mode("overwrite").save() }
    layers("sources.split_s", split)
    layers("sources.parse_s", parse)
    layers("sources.parse_self_s", parse - split)
    layers("onebrc.agg_s", agg)
    layers("onebrc.agg_self_s", agg - parse)
    // table resolution: one warm call per table, three rounds
    val resolve: () => Unit = suite match {
      case Some(s) => () => s.tables.keys.toSeq.sorted.foreach { t =>
        tr.span("tables.resolve") { graft.Tables.t(spark, s.dir, t) }; () }
      case None => () => (1 to 5).foreach { _ =>
        tr.span("tables.resolve") { OneBrc.readMeasurementsV2(spark, b.path, b.split) }; () }
    }
    resolve() // warm
    val before = tr.named("tables.resolve").size
    (1 to 3).foreach(_ => resolve())
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val calls = tr.named("tables.resolve").drop(before)
    layers("tables.resolve_ms", Stats.median(calls.map(_.durNs / 1e6)))
    val jobs = rec.jobList
    layers("tables.resolve_jobs", calls.map(c =>
      jobs.count(j => within(j.startMs, c))).sum.toDouble / calls.size)
    // flagship stage split, from the agg probes' listener stages
    val aggSpans = tr.named("onebrc.agg")
    val stages = rec.stageList
    def stageSum(p: Recorder.Stage => Boolean): Double = Stats.median(aggSpans.map { s =>
      stages.filter(st => within(st.submitMs, s) && p(st))
        .map(st => (st.endMs - st.submitMs) / 1000.0).sum
    })
    layers("onebrc.partial_stage_s", stageSum(st => st.inputRecords > 0 && st.shuffleWriteBytes > 0))
    layers("onebrc.final_stage_s", stageSum(st => st.shuffleReadRecords > 0))
  }

  private def within(ms: Long, s: Span): Boolean =
    ms * 1000000L >= s.startNs - 1000000L && ms * 1000000L <= s.endNs

  /** Per-pass medians over the traced warm passes. */
  def passLayers(ctx: Ctx, layers: Json): Unit = {
    import ctx._
    val stages = rec.stageList
    val jobs = rec.jobList
    val qes = rec.executions.asScala.toSeq
    val passes = ctx.passWindows.filter(_._3).map { case (s, e, _) =>
      tr.spans.find(p => p.name == "pass" && p.startNs >= s && p.endNs <= e).get
    }.toSeq
    def children(p: Span, name: String): Seq[Span] = {
      val all = tr.spans.filter(s => s.startNs >= p.startNs && s.endNs <= p.endNs)
      all.filter(_.name == name).toSeq
    }
    def med(f: Span => Double): Double = Stats.median(passes.map(f))
    def inPass(p: Span) = stages.filter(st => within(st.submitMs, p))
    layers("construct.total_s", med(p => children(p, "construct").map(_.durNs).sum / 1e9))
    layers("construct.jobs", med(p => children(p, "construct")
      .map(c => jobs.count(j => within(j.startMs, c))).sum.toDouble))
    layers("execute.total_s", med(p => children(p, "execute").map(_.durNs).sum / 1e9))
    def phase(name: String)(p: Span): Double = qes.filter { qe =>
      qe.tracker.phases.get("analysis").exists(ph => within(ph.startTimeMs, p))
    }.map(_.tracker.phases.get(name).map(_.durationMs.toDouble).getOrElse(0.0)).sum
    layers("plan.analysis_ms", med(phase("analysis")))
    layers("plan.optimization_ms", med(phase("optimization")))
    layers("plan.planning_ms", med(phase("planning")))
    layers("exec.jobs", med(p => jobs.count(j => within(j.startMs, p)).toDouble))
    layers("exec.stages", med(p => inPass(p).size.toDouble))
    layers("exec.tasks", med(p => inPass(p).map(_.tasks).sum.toDouble))
    layers("exec.cpu_share", med(p =>
      inPass(p).map(_.cpuNs).sum / (p.durNs.toDouble * cpus)))
    layers("exec.task_skew", med { p =>
      val skews = inPass(p).flatMap { st =>
        Option(rec.taskMs.get((st.id, st.attempt))).map(_.asScala.toSeq.map(_.toDouble))
          .filter(_.size >= 2).map(ts => ts.max / math.max(1.0, Stats.median(ts)))
      }
      if (skews.isEmpty) 1.0 else skews.max
    })
    layers("exec.spill_bytes", med(p => inPass(p).map(_.spillBytes).sum.toDouble))
    layers("exec.gc_ms", med(p => inPass(p).map(_.gcMs).sum.toDouble))
    layers("exchange.shuffle_bytes", med(p => inPass(p).map(_.shuffleWriteBytes).sum.toDouble))
    layers("exchange.fetch_wait_ms", med(p => inPass(p).map(_.fetchWaitMs).sum.toDouble))
    layers("exchange.records_per_mrow", med { p =>
      val in = inPass(p).map(_.inputRecords).sum.toDouble
      if (in == 0) 0.0 else inPass(p).map(_.shuffleWriteRecords).sum * 1e6 / in
    })
  }

  /** Every span, listener job and stage included, one JSON object a line,
    * with parents and self times. */
  def writeTrace(ctx: Ctx, file: java.nio.file.Path): Unit = {
    import ctx._
    val own = tr.spans.toSeq
    var next = own.map(_.id).maxOption.getOrElse(-1) + 1
    val jobSpans = rec.jobList.map { j =>
      val s = Span(next, s"job ${j.id}", j.startMs * 1000000L, j.endMs * 1000000L,
        Stats.enclosing(own, j.startMs * 1000000L), tr.run)
      next += 1; s
    }
    val stageSpans = rec.stageList.map { st =>
      val t = st.submitMs * 1000000L
      val s = Span(next, s"stage ${st.id}.${st.attempt}", t, st.endMs * 1000000L,
        Stats.enclosing(jobSpans, t) match { case -1 => Stats.enclosing(own, t); case j => j },
        tr.run)
      next += 1; s
    }
    val all = own ++ jobSpans ++ stageSpans
    val self = Stats.selfTimes(all)
    val lines = all.sortBy(_.startNs).map { s =>
      val j = new Json
      j("id", s.id); j.raw("name", Json.str(s.name)); j("start_ns", s.startNs)
      j("end_ns", s.endNs); j("parent", s.parent); j.raw("run", Json.str(s.run))
      j("self_ns", self(s.id))
      tr.counters.get(s.id).foreach { case (jit, gc) => j("jit_ms", jit); j("gc_ms", gc) }
      j.render
    }
    Files.write(file, lines.asJava, UTF_8)
    err(s"trace: ${all.size} spans -> $file")
  }
}

/** Flat JSON object writer (numbers and pre-rendered values). */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  def apply(k: String, v: Double): Unit =
    fields(k) = if (v.isNaN || v.isInfinite) "null" else v.toString
  def apply(k: String, v: Long): Unit = fields(k) = v.toString
  def raw(k: String, v: String): Unit = fields(k) = v
  def render: String = fields.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
}
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
