package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{BenchHooks, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

import graft.{SparkEntry, SyncApp}
import graft.functions.Exprs.{classifyMethod, cleanString}
import graft.operators.{AggQueries, CacheRegistry, ExtQueries, ScalarQueries,
  SyncEngine, SyncQueries}
import graft.sources.{ManifestDir, SnapshotDir, StateStore, StoreClone,
  VectorIndexStore}
import graft.streaming.StreamingSync

/** One benchmark process: set up one workload, run it as a single-client
  * closed loop for a fixed wall time, and write what it measured (timings,
  * outputs to check, traced per-layer figures) as one JSON file. The
  * Python entry point `perfbench/run.py` generates the inputs, launches this,
  * checks the outputs and prints the metrics.
  *
  * Arguments: --workload W --inputs DIR --work DIR --out FILE --seconds S
  * --trace 0|1 --cpus N --seed N --t0 yyyy-MM-dd --max-steps N. */
object Harness {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cpus = o("cpus").toInt
    val work = o("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions())
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val ctx = new Ctx(spark, o, jvmStartMs)
    val res = o("workload") match {
      case "nightly_sync" => Nightly.run(ctx)
      case "recon_report" => Recon.run(ctx)
      case "corpus_admit" => Corpus.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res ++= Seq(
      "session_s" -> ctx.sessionS,
      "peak_rss_mb" -> ctx.peakRssMb(),
      "steps" -> ctx.steps.map(_.toMap),
      "errors" -> ctx.errors.take(20))
    ctx.writeText(o("out"), Json.obj(res.toSeq))
    ctx.writeText(s"$work/trace.jsonl",
      ctx.tracer.written.map(Tracer.toJson).mkString("", "\n", "\n"))
    spark.stop()
  }
}

/** A step of the closed loop: its wall time and the workload's figures for
  * it. In a traced run the step also runs a second time, traced, on a twin
  * of the timed stores; `tracedSecs` is that run's wall time. */
final class Step(val index: Int) {
  var secs = 0.0
  var tracedSecs = -1.0
  var ok = true
  val fields = mutable.LinkedHashMap[String, Any]()
  def toMap: Map[String, Any] =
    Map("index" -> index, "secs" -> secs, "traced_secs" -> tracedSecs,
      "ok" -> ok) ++ fields
}

final class Ctx(val spark: SparkSession, o: Map[String, String],
    jvmStartMs: Long) {
  val inputs: String = o("inputs")
  val work: String = o("work")
  val seconds: Double = o("seconds").toDouble
  val trace: Boolean = o("trace") == "1"
  val seed: Long = o("seed").toLong
  val cpus: Int = o("cpus").toInt
  val t0: LocalDate = LocalDate.parse(o("t0"))
  val maxSteps: Int = o("max-steps").toInt
  val sessionS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
  val tracer = new Tracer(s"${o("workload")}-${o("seed")}-$jvmStartMs")
  val listener = new ExecListener
  val steps = mutable.ArrayBuffer[Step]()
  val errors = mutable.ArrayBuffer[String]()

  def fail(step: Step, why: String): Unit = {
    step.ok = false
    step.fields("why") = why
    errors += s"step ${step.index}: $why"
  }

  def secsOf[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** The store roots a run times: the first always, and in a traced run
    * the twin the traced repeats run on. */
  def roots: Seq[String] =
    if (trace) Seq(s"$work/timed", s"$work/twin") else Seq(s"$work/timed")

  /** The closed loop: one client runs step i, then step i+1, from step
    * `first` on, until `seconds` of wall time have passed, at least
    * `minSteps` and at most up to step `maxSteps` - 1, stopping only after
    * a multiple of `granule` steps. `body(step, traced)` does one step's
    * work (on the twin stores when `traced`) and returns the outputs the
    * run is checked on. In a traced run every step runs twice, plain and
    * traced, in alternating order, with the tracer and listener attached
    * only to the traced run; both must return the same outputs, and
    * `perLayer` turns the traced run's spans and executions into the
    * step's per-layer figures. */
  def loop(first: Int, minSteps: Int, maxSteps: Int, granule: Int = 1)(
      body: (Step, Boolean) => Map[String, Any])(
      perLayer: (Step, Map[String, Any], Seq[Span], Seq[Exec]) => Unit)
      : Unit = {
    val start = System.nanoTime()
    var i = first
    def done = i - first
    while (i < maxSteps && (done < minSteps || done % granule != 0 ||
        (System.nanoTime() - start) / 1e9 < seconds)) {
      val step = new Step(i)
      val order =
        if (!trace) Seq(false) else if (i % 2 == 0) Seq(false, true)
        else Seq(true, false)
      val outs = order.map { traced =>
        if (traced) {
          BenchHooks.drain(spark.sparkContext)
          listener.clear()
          spark.sparkContext.addSparkListener(listener)
          tracer.enabled = true
        }
        val t = System.nanoTime()
        val out =
          try Some(tracer.span("step")(body(step, traced)))
          catch {
            case e: Throwable =>
              fail(step, s"${e.getClass.getSimpleName}: ${e.getMessage}")
              None
          }
        val secs = (System.nanoTime() - t) / 1e9
        if (traced) {
          step.tracedSecs = secs
          BenchHooks.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
          tracer.enabled = false
          val spans = tracer.drainStep()
          if (step.ok) perLayer(step, out.get, spans, listener.finished)
        } else step.secs = secs
        traced -> out
      }.toMap
      outs.get(false).flatten.foreach(step.fields ++= _)
      if (step.ok && outs.size == 2 && outs(true) != outs(false))
        fail(step, "the traced run's outputs differ from the plain run's")
      steps += step
      i += 1
    }
  }

  /** Add a span under its enclosing span for every root execution that
    * `name` classifies; returns all spans with the additions. */
  def attribute(spans: Seq[Span], execs: Seq[Exec])(
      name: (Exec, Span) => Option[String]): Seq[Span] = {
    execs.filter(_.isRoot).foreach { x =>
      Tracer.enclosing(spans, x).foreach { enc =>
        name(x, enc).foreach(n => tracer.add(n, enc.id, x.startNs, x.endNs))
      }
    }
    spans ++ tracer.drainStep()
  }

  def bytesUnder(paths: String*): Long = paths.map { p =>
    val f = new File(p)
    if (!f.exists) 0L
    else {
      val files = Files.walk(f.toPath)
      try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally files.close()
    }
  }.sum

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  def writeText(path: String, s: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.write(s) finally w.close()
  }

  def under(path: String, root: String): Boolean =
    path.stripPrefix("file:").startsWith(root)
}

/** nightly_sync — the write path: raw feed → prepareSource → SyncApp. */
object Nightly {
  /** Every run times at least this many nights after the warm-up night.
    * The store size is read after the last of them, so it does not depend
    * on how many nights a run fits in its time. */
  val MinSteps = 2

  def run(c: Ctx): mutable.LinkedHashMap[String, Any] = {
    import c.spark
    val Seq(root, twins @ _*) = c.roots
    val (_, buildS) = c.secsOf {
      StateStore.overwrite(spark.read.schema(StateStore.StateSchema)
        .parquet(s"${c.inputs}/init_state.parquet"), s"$root/state")
    }
    twins.foreach(t => StoreClone.cloneStore(spark, s"$root/state",
      s"$t/state"))
    def paths(r: String) =
      SyncApp.Paths(s"$r/state", s"$r/audit", s"$r/conflicts")

    def night(k: Int, root: String): Map[String, Any] =
      c.tracer.span("night") {
        val (src, rejected) = c.tracer.span("Exprs.prepare") {
          val raw = spark.read.parquet(f"${c.inputs}/night_$k%03d.parquet")
          val (clean, rej) = SyncEngine.prepareSource(raw)
          (clean.select(col("ord"), cleanString(col("folio")).as("folio"),
            col("fecha"), cleanString(col("cliente")).as("cliente"),
            cleanString(col("servicio")).as("servicio"), col("banco"),
            col("monto"), classifyMethod(col("metodo_raw")).as("metodo")),
            rej.count())
        }
        val summary = c.tracer.span("SyncApp.sync") {
          SyncApp.sincronizarConciliacion(src, paths(root), c.t0.plusDays(k))
        }
        Map("actions" -> summary.actions, "rejected" -> rejected)
      }

    // untimed warm-up: night 0 on every root; the loop goes on from night 1
    val (warm, warmS) = c.secsOf(night(0, root))
    twins.foreach(night(0, _))
    var storeBytes = -1L
    c.loop(1, MinSteps, c.maxSteps) { (step, traced) =>
      val out = night(step.index, if (traced) twins.head else root)
      if (!traced && step.index == MinSteps)
        storeBytes = c.bytesUnder(s"$root/state", s"$root/audit",
          s"$root/conflicts")
      out
    } { (step, out, spans0, execs) =>
      val twin = twins.head
      val spans = c.attribute(spans0, execs) { (x, enc) =>
        if (enc.name != "SyncApp.sync") None
        else x.outputPath match {
          case Some(p) if c.under(p, s"$twin/state") =>
            Some("StateStore.overwrite")
          case Some(_) => Some("StateStore.append")
          case None => Some("SyncEngine.summary")
        }
      }
      val self = Tracer.selfTimes(spans)
      def total(n: String) = spans.filter(_.name == n).map(_.secs).sum
      def selfOf(p: String => Boolean) =
        spans.filter(s => p(s.name)).map(s => self(s.id)).sum
      val nightS = total("night")
      val syncSpan = spans.find(_.name == "SyncApp.sync")
      val writes = execs.filter(_.outputPath.isDefined)
      val stateScans = execs.flatMap(_.scans)
        .filter(_._1.exists(c.under(_, s"$twin/state")))
      step.fields ++= Seq(
        "SyncApp.sync_s" -> total("SyncApp.sync"),
        "SyncApp.self_s" -> selfOf(_ == "SyncApp.sync"),
        "SyncApp.spark_actions" ->
          spans.count(s => syncSpan.exists(_.id == s.parent)),
        "SyncEngine.join_execs" -> execs.map(_.fullOuterJoins).sum,
        "SyncEngine.shuffle_mb" -> execs.map(_.shuffleBytes).sum / 1e6,
        "SyncEngine.summary_s" -> total("SyncEngine.summary"),
        "StateStore.read_s" ->
          stateScans.map(_._2.getOrElse("scanTime", 0L)).sum / 1e3,
        "StateStore.overwrite_s" -> total("StateStore.overwrite"),
        "StateStore.append_s" -> total("StateStore.append"),
        "StateStore.files_written" -> writes.map(_.filesWritten).sum,
        "StateStore.mb_written" -> writes.map(_.bytesWritten).sum / 1e6,
        "Exprs.prepare_s" -> total("Exprs.prepare"),
        "Exprs.rows_rejected" -> out("rejected"),
        "catalyst.plan_s" -> execs.map(_.planS).sum,
        "trace.accounted_ratio" -> (selfOf(n => n.startsWith("StateStore.") ||
          n.startsWith("SyncEngine.") || n.startsWith("Exprs.")) / nightS))
    }
    mutable.LinkedHashMap(
      "build_s" -> buildS, "warmup_s" -> warmS, "warmup" -> warm,
      "store_bytes" -> storeBytes,
      "state_dir" -> SnapshotDir.current(spark, s"$root/state", "v-")
        .getOrElse(""))
  }
}

/** recon_report — the read path: the reference-surface query maps. */
object Recon {
  /** Every run times at least this many whole rounds of the 33 keys. */
  val Rounds = 2

  def keys: Seq[String] =
    (ScalarQueries.queries.keys ++ AggQueries.queries.keys ++
      SyncQueries.queries.keys.filterNot(_.startsWith("x_"))).toSeq.sorted

  def mapOf(k: String): String =
    if (ScalarQueries.queries.contains(k)) "ScalarQueries"
    else if (AggQueries.queries.contains(k)) "AggQueries"
    else "SyncQueries"

  /** Reduce a hash over every output column — a count() would let
    * Catalyst prune the projection under test. */
  def rowHash(df: DataFrame): String = {
    val r = df.agg(bit_xor(xxhash64(struct(df.columns.map(df.col): _*))))
      .collect().head
    if (r.isNullAt(0)) "empty" else r.getLong(0).toString
  }

  def run(c: Ctx): mutable.LinkedHashMap[String, Any] = {
    import c.spark
    val dir = s"${c.inputs}/sf"
    val qs = SparkEntry.queries
    // untimed warm-up: run each query once, writing its result for the
    // oracle check, and once the way a timed step runs it (hashed, not
    // written); that hash is the reference every timed run of the query
    // must reproduce. The hashed plan generates other code than the write:
    // without the hashed run the first timed round paid that code
    // generation and ran about 40 % slower than later rounds. The first
    // run of a plan is mostly code generation, so the warm-up runs the
    // queries on `cpus` threads.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cpus)
    val (ref, warmS) = c.secsOf {
      val pending = keys.map(k => k -> pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = {
            qs(k)(spark, dir).write.parquet(s"${c.work}/results/$k")
            rowHash(qs(k)(spark, dir))
          }
        }))
      pending.map { case (k, f) => k -> f.get() }.toMap
    }
    pool.shutdown()
    c.writeText(s"${c.work}/oracle_sql.json", Json.value(
      keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap))
    // one step = one query; rounds visit every key in a seed-shuffled order
    val order = Iterator.from(0).flatMap(r =>
      new Random(c.seed * 1000 + r).shuffle(keys))
    c.loop(0, Rounds * keys.size, Int.MaxValue, granule = keys.size) {
      (step, traced) =>
        // the plain and the traced run of a step run the same query
        if (!step.fields.contains("query")) {
          val k = order.next()
          step.fields ++= Seq("query" -> k, "map" -> mapOf(k))
        }
        val k = step.fields("query").toString
        val h = c.tracer.span(s"${mapOf(k)}.$k")(rowHash(qs(k)(spark, dir)))
        if (h != ref(k)) c.fail(step, s"$k: hash $h != warm-up ${ref(k)}")
        Map("query" -> k, "map" -> mapOf(k))
    } { (step, _, spans, execs) =>
      val roots = execs.filter(_.isRoot)
      step.fields ++= Seq(
        "catalyst.plan_s" -> execs.map(_.planS).sum,
        "spark.exec_s" -> roots.map(_.secs).sum,
        "spark.jobs" -> execs.map(_.jobs).sum,
        "spark.tasks" -> execs.map(_.tasks).sum)
    }
    mutable.LinkedHashMap("build_s" -> 0.0, "warmup_s" -> warmS,
      "keys" -> keys)
  }
}

/** corpus_admit — crawl admission and index append beside ANN probes. */
object Corpus {
  /** As [[Nightly.MinSteps]], for admission steps. */
  val MinSteps = 2
  val TopK = 10

  def run(c: Ctx): mutable.LinkedHashMap[String, Any] = {
    import c.spark
    val in = c.inputs
    val base = spark.read.parquet(s"$in/vec_base.parquet")
    val Seq(root, twins @ _*) = c.roots
    val (_, buildS) = c.secsOf {
      VectorIndexStore.ensureIvfPq(base, s"$root/ivf")
      CacheRegistry.unpersistAll()
    }
    twins.foreach(t => StoreClone.cloneStore(spark, s"$root/ivf", s"$t/ivf"))

    /** One batch: admit it, append its vectors, probe the index, as the
      * engine's serve path calls them (admitBatch releases its own caches;
      * the append and the probe leave theirs to the caller). Then release
      * what the step left tracked, and require that Spark holds no cached
      * plan and no persisted RDD afterwards. */
    def step(k: Int, root: String): Map[String, Any] = {
      val batch = spark.read.parquet(f"$in/docs_$k%03d.parquet")
      val vecs = spark.read.parquet(f"$in/vec_$k%03d.parquet")
      val queries = spark.read.parquet(f"$in/query_$k%03d.parquet")
      val corpus = spark.read.parquet(s"$in/vec_base.parquet" +:
        (0 to k).map(j => f"$in/vec_$j%03d.parquet"): _*)
      val (_, ingestS) = c.secsOf {
        c.tracer.span("StreamingSync.admitBatch") {
          StreamingSync.admitBatch(batch, s"$root/fp", s"$root/admitted",
            ExtQueries.JaccardThreshold)
        }
        c.tracer.span("VectorIndexStore.appendIvfPq") {
          VectorIndexStore.appendIvfPq(spark, s"$root/ivf", vecs)
        }
      }
      val (hits, probeS) = c.secsOf {
        c.tracer.span("VectorIndexStore.ivfPqTopKFromIndex") {
          VectorIndexStore.ivfPqTopKFromIndex(spark, s"$root/ivf", queries,
            corpus, TopK).select(col("query_id"), col("match_id")).collect()
        }
      }
      val tracked = CacheRegistry.size
      CacheRegistry.unpersistAll()
      val leaked = s"${BenchHooks.cachedPlans(spark)} cached plans, " +
        s"${spark.sparkContext.getPersistentRDDs.size} persisted RDDs"
      Map("ingest_s" -> ingestS, "probe_s" -> probeS, "cache_live" -> tracked,
        "leaked" -> leaked,
        "hits" -> hits.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq)
    }
    def outputs(m: Map[String, Any]) = m.filter { case (k, _) =>
      k == "hits" || k == "cache_live" || k == "leaked" }
    val NoLeak = "0 cached plans, 0 persisted RDDs"

    // untimed warm-up: batch 0 on every root; the loop goes on from batch 1
    val (warm, warmS) = c.secsOf(step(0, root))
    twins.foreach(step(0, _))
    var storeBytes = -1L
    val codesSegs = mutable.ArrayBuffer[Int]()
    c.loop(1, MinSteps, c.maxSteps) { (st, traced) =>
      val r = if (traced) twins.head else root
      val out = step(st.index, r)
      if (out("leaked") != NoLeak)
        c.fail(st, s"${out("leaked")} left after the step released its caches")
      if (!traced) {
        if (st.index == MinSteps)
          storeBytes = c.bytesUnder(s"$root/fp", s"$root/admitted",
            s"$root/ivf")
        codesSegs += VectorIndexStore.codesSegmentDirs(spark, s"$root/ivf")
          .size
        st.fields ++= out -- outputs(out).keys
      }
      outputs(out)
    } { (st, _, spans0, execs) =>
      val twin = twins.head
      val admit = spans0.find(_.name == "StreamingSync.admitBatch")
      val probe = spans0.find(_.name == "VectorIndexStore.ivfPqTopKFromIndex")
      def inside(s: Option[Span])(x: Exec) = s.exists(Tracer.within(_, x))
      val admitExecs = execs.filter(inside(admit))
      val admitRoots = admitExecs.filter(_.isRoot)
      val fpWrites = admitRoots.filter(_.outputPath.exists(c.under(_,
        s"$twin/fp")))
      val admittedRows = admitExecs.filter(_.outputPath.exists(c.under(_,
        s"$twin/admitted"))).map(_.rowsWritten).sum
      val ivfScans = execs.filter(inside(probe)).flatMap(_.scans)
        .filter(_._1.exists(c.under(_, s"$twin/ivf")))
      val batchN = spark.read.parquet(f"$in/docs_${st.index}%03d.parquet")
        .count()
      val jIn = admitExecs.map(_.jaccardIn).sum
      st.fields ++= Seq(
        "StreamingSync.admitBatch_s" -> admit.map(_.secs).getOrElse(0.0),
        "VectorIndexStore.appendIvfPq_s" -> spans0.find(
          _.name == "VectorIndexStore.appendIvfPq").map(_.secs).getOrElse(0.0),
        "VectorIndexStore.ivfPqTopKFromIndex_s" ->
          probe.map(_.secs).getOrElse(0.0),
        "admit.spark_actions" -> admitRoots.size,
        "admit.dedup_s" -> (admitRoots.map(_.secs).sum -
          fpWrites.map(_.secs).sum),
        "FingerprintStore.appendBatch_s" -> fpWrites.map(_.secs).sum,
        "FingerprintStore.candidates_per_doc" -> jIn.toDouble / batchN,
        "Dedup.verify_hit_ratio" ->
          (if (jIn == 0) 0.0 else admitExecs.map(_.jaccardOut).sum.toDouble / jIn),
        "admit.reject_ratio" -> (1.0 - admittedRows.toDouble / batchN),
        "FingerprintStore.segments" -> ManifestDir.current(spark,
          s"$twin/fp", "fp-").map(_.segments("buckets").size).getOrElse(0),
        "VectorIndexStore.codes_segments" -> VectorIndexStore
          .codesSegmentDirs(spark, s"$twin/ivf").size,
        "VectorIndexStore.lists_probed" ->
          ivfScans.map(_._2.getOrElse("numPartitions", 0L)).sum,
        "VectorIndexStore.files_read" ->
          ivfScans.map(_._2.getOrElse("numFiles", 0L)).sum,
        "admit.shuffle_mb" -> admitExecs.map(_.shuffleBytes).sum / 1e6,
        "catalyst.plan_s" -> execs.map(_.planS).sum)
    }
    val compactions = codesSegs.zip(codesSegs.drop(1)).count {
      case (a, b) => b < a
    }
    mutable.LinkedHashMap("build_s" -> buildS, "warmup_s" -> warmS,
      "store_bytes" -> storeBytes,
      "warmup_leaked" -> (if (warm("leaked") == NoLeak) "" else warm("leaked")),
      "admitted_dir" -> s"$root/admitted", "compactions" -> compactions,
      "recall_floor" -> ExtQueries.RecallFloor)
  }
}
