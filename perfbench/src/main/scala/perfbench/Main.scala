package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.api.SearchEngine
import graft.gen.TranscriptGen
import graft.index.{IndexBuilder, SegmentIO}
import graft.model.{QuerySpec, SearchResponse, Turn}
import graft.query.{Bm25, LocalIndex, OracleEngine, Wand}
import graft.tokenize.Tokenizer

/** End-to-end and per-layer benchmark of the engine's index lifecycle:
  * build, resident serving, distributed serving and append, all through
  * the library's public API at `local[4]`.
  *
  * Usage: `Main --workload <serve|ingest> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. The last stdout line is one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`; `--trace 0`
  * reports the end-to-end metrics, `--trace 1` the per-layer ones and
  * writes the span tree to `<work>/trace/`.
  */
object Main {

  /** A workload is one input regime of the same lifecycle; both report
    * every metric.
    *
    * @param convs         base corpus conversations (~14 turns each)
    * @param deltaConvs    conversations in the append batch
    * @param appendFirst   append before the query loops, which then serve
    *                      the appended index; otherwise only traced runs
    *                      append, after the loops
    * @param oracleSample  stream queries checked against OracleEngine
    *                      (traced runs)
    */
  final case class Workload(
      convs: Long,
      deltaConvs: Long,
      appendFirst: Boolean,
      oracleSample: Int)

  val Workloads: Map[String, Workload] = Map(
    "serve" -> Workload(convs = 1000, deltaConvs = 40, appendFirst = false, oracleSample = 1),
    "ingest" -> Workload(convs = 1000, deltaConvs = 30, appendFirst = true, oracleSample = 0))

  /** Share of `--seconds` for the resident loop; the distributed loop
    * gets the rest. Each loop also runs a minimum number of calls.
    */
  val ResidentShare = 0.2
  val ResidentWarmup = 500
  val MinResidentCalls = 1000
  /** The resident loop runs in this many windows spread over the run,
    * so a burst of interference from the host disturbs at most one.
    */
  val ResidentWindows = 3
  val LoadWarmup = 2
  val LoadReps = 3

  val Cores = 4
  /** Base index shards (fixed docs per shard, so appends add shards). */
  val Shards = 8
  /** Timed set-ups per run; `setup_s` is their median. */
  val SetupReps = 1
  /** Conversations in the untimed first set-up. It takes the JVM's cold
    * start on the staging and build paths (class loading, JIT), which
    * makes a first set-up two to three times slower than a warm one.
    */
  val WarmupConvs = 150L

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; expected one of ${Workloads.keys.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def session(work: String, cores: Int = Cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val spark = session(args.work)
    try {
      val run = new Run(spark, args, Workloads(args.workload))
      run.execute()
      if (args.trace) {
        run.finishTrace()
        run.scaling() // stops this session
      }
      println(run.resultJson)
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Nearest-rank percentile of the sorted values. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** One benchmark run: set-up, the measured lifecycle, checks, metrics. */
final class Run(spark: SparkSession, args: Main.Args, w: Main.Workload) {
  import Main._
  import spark.implicits._

  private val seed = args.seed
  private val work = Paths.get(args.work).toAbsolutePath.toString
  private val tracer = new Tracer(spark.sparkContext, args.trace)
  // build sessions run with AQE off, query sessions with it on
  private val buildSpark = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer[String]()

  private val layer = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  private def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  private def layerMetric(name: String, value: Double, unit: String): Unit =
    layer(name) = (value, unit)

  /** Counts one operation; a false or throwing check makes it a failed one. */
  private def op(ok: => Boolean, what: => String): Unit = {
    attempted += 1
    val error = try { if (ok) None else Some("") } catch { case e: Exception => Some(s": $e") }
    error.foreach { e =>
      failed += 1
      if (failures.size < 20) failures += what + e
    }
  }

  /** Runs one timed operation and returns its result with its latency
    * in ms; an exception counts as a failed operation.
    */
  private def timedOp[T](what: => String)(f: => T): Option[(T, Double)] = {
    val t = System.nanoTime()
    try {
      val r = f
      Some((r, (System.nanoTime() - t) / 1e6))
    } catch {
      case e: Exception =>
        val msg = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
        op(false, s"$what threw ${e.getClass.getSimpleName}: $msg")
        None
    }
  }

  private def timedS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---- inputs: pure functions of the seed ----

  private val basePath = s"$work/corpus/base"
  private val deltaPath = s"$work/corpus/delta"
  private val idxDir = s"$work/index/live"
  private val refDir = s"$work/index/reference"

  private def turnsOf(c: Long): Int = TranscriptGen.turnsPerConv(seed, c)

  /** first doc id of each conversation, base then delta (doc id = global
    * sort rank of (conv_id, turn_idx); conv ids sort numerically and the
    * delta follows the base, so the append keeps this numbering)
    */
  private val convStart: Array[Long] = {
    val n = (w.convs + w.deltaConvs).toInt
    val a = new Array[Long](n + 1)
    var c = 0
    while (c < n) { a(c + 1) = a(c) + turnsOf(c); c += 1 }
    a
  }
  private val baseTurns = convStart(w.convs.toInt)
  private val allTurns = convStart.last
  private def textBytes(convs: Seq[Long]): Long =
    convs.iterator.map(c => (0 until turnsOf(c)).map(t =>
      TranscriptGen.text(seed, c, t).length.toLong).sum).sum

  private def keyOf(doc: Long): (String, Int) = {
    val i = java.util.Arrays.binarySearch(convStart, doc)
    val c = if (i >= 0) i else -i - 2
    (TranscriptGen.convId(c.toLong), (doc - convStart(c)).toInt)
  }

  private def readTurns(s: SparkSession, path: String): Dataset[Turn] = {
    import s.implicits._
    s.read.parquet(path).as[Turn]
  }

  /** Set-up: stage `convs` conversations of the seeded base corpus and,
    * when `withDelta`, the append batch as parquet tables (delta
    * conversations get ids beyond the base, so the append is the
    * in-order path).
    */
  private def stage(convs: Long, withDelta: Boolean): Unit = {
    val sd = seed
    TranscriptGen.corpus(spark, convs, sd).write.mode("overwrite").parquet(basePath)
    if (withDelta)
      spark.range(w.convs, w.convs + w.deltaConvs).flatMap(c =>
        (0 until TranscriptGen.turnsPerConv(sd, c)).map(t => TranscriptGen.turnRow(sd, c, t)))
        .write.mode("overwrite").parquet(deltaPath)
  }

  private def allTurnsDs(s: SparkSession): Dataset[Turn] =
    readTurns(s, basePath).union(readTurns(s, deltaPath))

  private val dps = (baseTurns + Shards - 1) / Shards
  private val cfg = IndexBuilder.Config(blockSize = 128, numShards = Shards,
    docsPerShard = Some(dps), numPartitions = Cores, postingsGroups = 1, cacheInput = false)

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  private def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
      .mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }

  /** Used heap after full collections; the pauses let Spark's context
    * cleaner release what the collections made unreachable.
    */
  private def usedHeap(): Long = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    rt.totalMemory - rt.freeMemory
  }

  private val t0Run = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0Run) / 1e9}%7.2fs $name")

  // ---- lifecycle state, filled by the phases below ----
  private val resLat = ArrayBuffer[Double]()
  private val retrieveLat = ArrayBuffer[(Double, Boolean)]() // (ms, traced)
  private val searchLat = ArrayBuffer[(Double, Boolean)]()
  private var appended = false
  private var refBuildS = Double.NaN
  private val routeFrac = ArrayBuffer[Double]()

  def execute(): Unit = tracer.span(s"workload:${args.workload}") {
    // set-up: stage the inputs, then build the base index from scratch
    // (a build resumes in an existing directory); returns the staging
    // and build seconds
    def setupOnce(convs: Long, withDelta: Boolean, c: IndexBuilder.Config): (Double, Double) = {
      deleteTree(idxDir)
      val (_, stageS) = timedS(tracer.span("setup:stage")(stage(convs, withDelta)))
      val (st, buildS) = timedS(tracer.span("op:build", op = true) {
        tracer.span("index:IndexBuilder.build")(
          IndexBuilder.build(buildSpark, readTurns(buildSpark, basePath), idxDir, c))
      })
      val turns = convStart(convs.toInt)
      op(st.numDocs == turns, s"build: numDocs ${st.numDocs} != $turns")
      (stageS, buildS)
    }
    val warmTurns = convStart(WarmupConvs.toInt)
    setupOnce(WarmupConvs, withDelta = false,
      cfg.copy(docsPerShard = Some((warmTurns + Shards - 1) / Shards)))
    val setup = (1 to SetupReps).map(_ => setupOnce(w.convs, w.appendFirst || args.trace, cfg))
    metric("setup_s", median(setup.map(s => s._1 + s._2)), "s")
    layerMetric("build_turns_per_s", baseTurns / median(setup.map(_._2)), "turns/s")
    phase("setup")

    val eng = new SearchEngine(spark, idxDir) // the live engine, kept across the append
    if (w.appendFirst) append(eng)
    // index size of what the loops serve: the base, or base plus append
    val served = if (w.appendFirst) w.convs + w.deltaConvs else w.convs
    metric("index_bytes_per_text_byte", dirBytes(idxDir).toDouble / textBytes(0L until served), "ratio")
    // the copy the loops serve and check against; its load is not
    // measured, and serves as the load path's first, JIT-cold run
    val li = new LocalIndex(spark, idxDir)
    // the resident loop feeds only per-layer metrics, so only traced
    // runs make it
    if (args.trace) residentWindow(li)
    distributedLoop(li, eng)
    phase("distributed loop")
    load()
    phase("load")
    if (args.trace) {
      residentWindow(li)
      residentReplay(li)
      segmentProbes(eng)
      phase("layer probes")
      if (!w.appendFirst) append(eng)
      checks(li)
      phase("checks")
      residentWindow(li)
      layerMetric("resident_qps", median(windowQps.toSeq), "queries/s")
      layerMetric("resident_p50_ms", median(windowP50.toSeq), "ms")
      layerMetric("resident_p99_ms", pct(resLat.toSeq, 0.99), "ms")
    }
  }

  /** Loads the resident index LoadReps times, after the distributed loop
    * has warmed the Spark read and collect paths the load runs on, and
    * after LoadWarmup unmeasured loads, since the load path's first runs
    * are still JIT-cold. Every load starts on a collected heap. The
    * measured copies stay alive until all are loaded, so the heap growth
    * over the loads, divided by their number, is one copy's footprint.
    */
  private def load(): Unit = {
    (1 to LoadWarmup).foreach(_ => new LocalIndex(spark, idxDir))
    val before = usedHeap()
    val copies = ArrayBuffer[LocalIndex]()
    val loads = (1 to LoadReps).map { _ =>
      System.gc()
      val (li, s) = timedS(tracer.span("op:load", op = true) {
        tracer.span("query:LocalIndex.load")(new LocalIndex(spark, idxDir))
      })
      copies += li
      s
    }
    metric("resident_load_s", median(loads), "s")
    metric("resident_heap_mb", (usedHeap() - before) / 1048576.0 / copies.size, "MB")
  }

  // ---- resident loop: LocalIndex.retrieve, no Spark jobs ----

  /** A planted needle's turn ranks within the query's needle bound. */
  private def needleFound(q: Query, hits: Seq[(Long, Double)]): Boolean =
    q.needle.forall(i => hits.take(q.needleWithin).exists(_._1 == convStart(i.toInt)))

  private val residentStream = new QueryStream(seed, w.convs)
  private val windowQps, windowP50 = ArrayBuffer[Double]()

  /** One window of the resident loop; the first is preceded by a JIT
    * warm-up on a different stream of the same seed.
    */
  private def residentWindow(li: LocalIndex): Unit = {
    if (windowQps.isEmpty) {
      val warm = new QueryStream(seed ^ 0x3a7L, w.convs)
      (1 to ResidentWarmup).foreach { _ =>
        val q = warm.next()
        li.retrieve(q.text, q.k, q.minScore, q.conjunctive)
      }
    }
    // untraced even in traced runs: span recording would be a large part
    // of a sub-millisecond call; residentReplay gives the layer breakdown
    tracer.recording = false
    val lat = ArrayBuffer[Double]()
    val budgetNs = (args.seconds * ResidentShare / ResidentWindows * 1e9).toLong
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < budgetNs || lat.size < MinResidentCalls / ResidentWindows) {
      val q = residentStream.next()
      def what = s"resident ${q.cls} '${q.text}'"
      timedOp(what)(li.retrieve(q.text, q.k, q.minScore, q.conjunctive)).foreach { case (r, ms) =>
        lat += ms
        op(r.length <= q.k && needleFound(q, r.toSeq), s"$what: needle not ranked or too many hits")
      }
    }
    tracer.recording = args.trace
    windowQps += lat.size / ((System.nanoTime() - t0) / 1e9)
    windowP50 += median(lat.toSeq)
    resLat ++= lat
    phase(s"resident window ${windowQps.size}")
  }

  // ---- distributed loop: SearchEngine over streams of the same classes ----

  /** The search-call variants, cycled in order so every run has the
    * same mix: plain; ts range + role filter; role + tool filter with
    * boost/penalize; rerank with includeKeys; validation mode.
    */
  private val SearchVariants = 5

  private def searchSpec(v: Int, q: Query, text: String, li: LocalIndex): QuerySpec = {
    val base = QuerySpec(text, topK = q.k, minScore = q.minScore, conjunctive = q.conjunctive)
    v match {
      case 0 => base
      case 1 =>
        val lo = w.convs / 4
        base.copy(tsAfter = Some(TranscriptGen.tsOf(lo, 0)),
          tsBefore = Some(TranscriptGen.tsOf(lo + w.convs / 2, 0)), roles = Seq("assistant"))
      case 2 => base.copy(roles = Seq("tool", "user"), tools = Seq("bash", "grep"),
        boostTerms = Seq("t00003"), penalizeTerms = Seq("t00011"))
      case 3 =>
        val top = li.retrieve(text, q.k, q.minScore, q.conjunctive).take(3).map(h => keyOf(h._1))
        base.copy(rerank = true, includeKeys = top.toSeq :+ ("c99999999" -> 0))
      case _ => base.copy(validationMode = true)
    }
  }

  private def checkSearch(spec: QuerySpec, r: SearchResponse, li: LocalIndex): Boolean = {
    val hits = r.hits
    val k = if (spec.validationMode) 5000 else spec.topK
    val filtered = spec.tsAfter.nonEmpty || spec.roles.nonEmpty
    val plain = !filtered && !spec.rerank && spec.boostTerms.isEmpty
    // plain calls return the resident index's top-k, rounded to 4 dp
    lazy val exp = li.retrieve(spec.text, k, if (spec.validationMode) 0.0 else spec.minScore,
      spec.conjunctive)
    (!plain || (exp.map(_._1).toSet == hits.map(_.doc_id).toSet && {
      val s = exp.toMap
      hits.forall(h => math.abs(h.score - s(h.doc_id)) <= 5.0001e-5)
    })) &&
      spec.tsAfter.forall(a => hits.forall(h => !h.ts.before(a))) &&
      spec.tsBefore.forall(b => hits.forall(h => !h.ts.after(b))) &&
      (spec.roles.isEmpty || hits.forall(h => spec.roles.contains(h.role.toLowerCase))) &&
      (spec.tools.isEmpty || hits.forall(h => spec.tools.contains(h.tool.toLowerCase))) &&
      (spec.includeKeys.isEmpty || r.stats.exists(m =>
        m.totalIncluded == spec.includeKeys.size && m.matched + m.missed == m.totalIncluded)) &&
      (spec.rerank || hits.map(_.score).sliding(2).forall(p => p.size < 2 || p(0) >= p(1))) &&
      hits.size <= k
  }

  private def distributedLoop(li: LocalIndex, eng: SearchEngine): Unit = {
    // each kind of call has its own stream; `j` numbers the calls of a kind
    val retrieveStream = new QueryStream(seed, w.convs)
    val searchStream = new QueryStream(seed ^ 0x5ea7c4L, w.convs)
    var jr, js = 0

    // one call in ten of each kind carries a never-seen term: a
    // dictionary-cache miss. Traced runs pause recording on every other
    // call of each kind, to compare traced and untraced latency in the run.
    def call(kind: String, q: Query, j: Int)(body: String => Unit): Unit = {
      val text = if (j % 10 == 3) s"${q.text} oov${seed}$kind$j" else q.text
      tracer.recording = args.trace && j % 2 == 0
      body(text)
      tracer.recording = args.trace
      if (args.trace)
        routeFrac += eng.routedShards(text, q.conjunctive).length.toDouble / eng.stats.numShards
    }
    def retrieveCall(): Unit = {
      val q = retrieveStream.next()
      call("r", q, jr) { text =>
        val traced = tracer.recording
        val what = s"retrieve ${q.cls} '$text'"
        timedOp(what)(tracer.span("op:retrieve", op = true) {
          tracer.span("api:SearchEngine.retrieve")(
            eng.retrieve(text, q.k, q.minScore, q.conjunctive).collect())
        }).foreach { case (rows, ms) =>
          retrieveLat += ((ms, traced))
          val got = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val exp = li.retrieve(text, q.k, q.minScore, q.conjunctive).toSeq
          op(got == exp && needleFound(q, got), s"$what differs from LocalIndex or misses its needle")
        }
      }
      jr += 1
    }
    def searchCall(): Unit = {
      val q = searchStream.next()
      call("s", q, js) { text =>
        val traced = tracer.recording
        val v = js % SearchVariants
        val spec = searchSpec(v, q, text, li)
        val what = s"search ${q.cls} variant $v '$text'"
        timedOp(what)(tracer.span("op:search", op = true) {
          tracer.span("api:SearchEngine.search")(eng.search(spec))
        }).foreach { case (r, ms) =>
          searchLat += ((ms, traced))
          op(checkSearch(spec, r, li), s"$what failed its check")
        }
      }
      js += 1
    }

    // a round of bare retrieve calls first, which also warms the planner
    // for the search calls; then retrieve and search calls alternate, in
    // whole rounds only, so every run calls each query class equally often
    val budgetNs = (args.seconds * (1 - ResidentShare) * 1e9).toLong
    val t0 = System.nanoTime()
    val round = QueryStream.RoundSize
    (1 to round).foreach(_ => retrieveCall())
    while (System.nanoTime() - t0 < budgetNs || js < round || js % round != 0) {
      retrieveCall()
      searchCall()
    }
    metric("retrieve_p50_ms", median(retrieveLat.map(_._1).toSeq), "ms")
    metric("search_p50_ms", median(searchLat.map(_._1).toSeq), "ms")
    layerMetric("search_p95_ms", pct(searchLat.map(_._1).toSeq, 0.95), "ms")
  }

  // ---- append: the in-order delta batch, then one live query ----

  private def append(eng: SearchEngine): Unit = {
    val (st, s) = timedS(tracer.span("op:append", op = true) {
      tracer.span("index:IndexBuilder.appendBuild")(
        IndexBuilder.appendBuild(buildSpark, readTurns(buildSpark, deltaPath), idxDir,
          numPartitions = Cores))
    })
    appended = true
    layerMetric("append_turns_per_s", (allTurns - baseTurns) / s, "turns/s")
    op(st.numDocs == allTurns, s"append: numDocs ${st.numDocs} != acknowledged $allTurns")
    val r = tracer.span("op:append-query", op = true)(
      eng.search(QuerySpec("needle0alpha needle0beta", topK = 5)))
    op(eng.stats.numDocs == allTurns &&
      r.hits.headOption.exists(h => h.conv_id == TranscriptGen.convId(0L) && h.turn_idx == 0),
      "append: live engine does not see the appended index")
  }

  // ---- checks outside the measured phases ----

  private def checks(li: LocalIndex): Unit = {
    // a seeded sample against the exact DataFrame oracle on the base
    // corpus (a corpus-wide scan, so traced runs only make these checks)
    val stream = new QueryStream(seed ^ 0x0c1eL, w.convs)
    val sample = Iterator.continually(stream.next())
      .filter(q => q.cls != "stoponly" && q.cls != "zero").take(w.oracleSample).toSeq
    val turns = readTurns(spark, basePath)
    sample.foreach { q =>
      val k = math.min(q.k, 50)
      val got = li.retrieve(q.text, k, q.minScore, q.conjunctive).toSeq
        .map { case (d, s) => (keyOf(d), s) }
      val exp = OracleEngine.topK(spark, turns, q.text, k, q.conjunctive, q.minScore)
        .collect().map(r => ((r.getString(0), r.getInt(1)), r.getDouble(2))).toSeq
      op(got.map(_._1) == exp.map(_._1) &&
        got.zip(exp).forall { case (a, b) => math.abs(a._2 - b._2) <= 1e-9 * math.max(1.0, b._2) },
        s"oracle sample '${q.text}' differs from OracleEngine.topK")
    }
    // the appended index must equal a full build over the same turns;
    // traced runs all append
    if (appended) {
      val (_, s) = timedS(tracer.span("check:reference-build")(
        IndexBuilder.build(buildSpark, allTurnsDs(buildSpark), refDir, cfg)))
      refBuildS = s
      def sums(dir: String): Seq[Long] = Seq(
        SegmentIO.readPostings(spark, dir).toDF(), SegmentIO.readDict(spark, dir).toDF(),
        SegmentIO.readNorms(spark, dir).toDF(), SegmentIO.readDocs(spark, dir).toDF())
        .map(SegmentIO.contentChecksum)
      op(SegmentIO.readStats(idxDir) == SegmentIO.readStats(refDir) && sums(idxDir) == sums(refDir),
        "appended index differs from a full build over the same turns")
    }
  }

  // ---- per-layer probes (traced runs only) ----

  /** Replays LocalIndex's shard loop for a sample of the stream with
    * the public Wand cursors, timing tokenize and each shard's WAND
    * call; the replay must return retrieve's exact top-k.
    */
  private def residentReplay(li: LocalIndex): Unit = {
    val stream = new QueryStream(seed, w.convs)
    val st = li.stats
    val shards = li.norms.keys.toArray.sorted
    val tokUs, wandMs, skews = ArrayBuffer[Double]()
    var shardNs, wallNs, blocks, postings, hits, queries = 0L
    (0 until math.min(200, resLat.size)).foreach { _ =>
      val q = stream.next()
      val tt = System.nanoTime()
      val qTerms = Tokenizer.tokenize(q.text).distinct.sorted
      tokUs += (System.nanoTime() - tt) / 1e3
      val present = qTerms.filter(li.dict.contains)
      val tw = System.nanoTime()
      val exp = li.retrieve(q.text, q.k, q.minScore, q.conjunctive)
      val wall = System.nanoTime() - tw
      if (present.nonEmpty && !(q.conjunctive && present.length < qTerms.length)) {
        val meta = present.map { t =>
          val d = li.dict(t)
          val idf = Bm25.idf(st.numDocs, d.df)
          t -> (idf, Bm25.boundScore(idf, d.max_tf, d.min_dl, st.avgdl))
        }.toMap
        val perShard = ArrayBuffer[Double]()
        val res = shards.flatMap { shard =>
          val dlArrs = li.norms(shard)
          val shardBase = shard.toLong * st.docsPerShard
          val lists = present.flatMap(t => li.postings(t).get(shard))
          val cursors = present.flatMap { t =>
            li.postings(t).get(shard).map { bs =>
              new Wand.TermCursor(t, meta(t)._1, meta(t)._2, bs, st.avgdl)
            }
          }
          if (cursors.isEmpty || (q.conjunctive && cursors.length < present.length)) Array.empty[(Long, Double)]
          else {
            blocks += lists.map(_.length.toLong).sum
            postings += lists.map(_.map(_.n.toLong).sum).sum
            val dl = (d: Long) => {
              val rel = d - shardBase
              dlArrs((rel / st.normsPageSize).toInt)((rel % st.normsPageSize).toInt)
            }
            val t = System.nanoTime()
            val r =
              if (q.conjunctive) Wand.topKConjunctive(cursors, dl, st.avgdl, q.k, q.minScore)
              else Wand.topKDisjunctive(cursors, dl, st.avgdl, q.k, q.minScore)
            perShard += (System.nanoTime() - t).toDouble
            r
          }
        }.sortBy { case (d, s) => (-s, d) }.take(q.k)
        op(res.toSeq == exp.toSeq, s"replay of '${q.text}' differs from LocalIndex.retrieve")
        if (perShard.nonEmpty) {
          wandMs += perShard.sum / 1e6
          skews += perShard.max / mean(perShard.toSeq)
          shardNs += perShard.sum.toLong
          wallNs += wall
          hits += exp.length
          queries += 1
        }
      }
    }
    layerMetric("local.tokenize_us", median(tokUs.toSeq), "us")
    layerMetric("local.wand_ms", median(wandMs.toSeq), "ms")
    layerMetric("local.shard_skew", median(skews.toSeq), "ratio")
    layerMetric("local.fanout_util", shardNs.toDouble / (wallNs.toDouble * Cores), "ratio")
    layerMetric("local.blocks_per_query", blocks.toDouble / math.max(1L, queries), "count")
    layerMetric("local.postings_per_hit", postings.toDouble / math.max(1L, hits), "count")
  }

  /** Direct timings of the segment reads a routed query's shard tasks
    * make, and of a dictionary lookup that misses the engine's cache.
    */
  private def segmentProbes(eng: SearchEngine): Unit = {
    val stream = new QueryStream(seed ^ 0x5e9L, w.convs)
    val readMs, readBytes = ArrayBuffer[Double]()
    Iterator.continually(stream.next()).filter(q => q.cls == "mix" || q.cls == "mid")
      .take(4).foreach { q =>
        val terms = Tokenizer.tokenize(q.text).distinct.sorted
        eng.routedShards(q.text).foreach { shard =>
          val (blocks, s) = timedS(SegmentIO.readShardPostings(idxDir, shard, terms))
          readMs += s * 1e3
          readBytes += blocks.map(b => b.doc_bytes.length + b.tf_bytes.length).sum.toDouble
        }
      }
    layerMetric("segment.postings_read_ms", mean(readMs.toSeq), "ms")
    layerMetric("segment.postings_bytes", mean(readBytes.toSeq), "bytes")
    val normsMs = (0 until eng.stats.numShards).map(s =>
      timedS(SegmentIO.readShardNorms(idxDir, s))._2 * 1e3)
    layerMetric("segment.norms_read_ms", mean(normsMs), "ms")
    val missMs = (0 until 5).map { r =>
      val terms = Seq(TranscriptGen.termOf(100 + r), TranscriptGen.termOf(2000 + r), s"dictmiss${seed}x$r")
      timedS(SegmentIO.readDict(spark, idxDir).filter($"term".isin(terms: _*)).collect())._2 * 1e3
    }
    layerMetric("dict.miss_ms", median(missMs), "ms")
  }

  /** Per-operation Spark cost of the distributed calls, from the spans
    * and the benchmark's listener.
    */
  private def apiLayers(): Unit = {
    def perCall(name: String) = tracer.spans.filter(_.name == name).map { s =>
      val jobs = tracer.jobsUnder(s)
      val ivs = jobs.map(j => (j.start, j.end))
      val jobMs = Tracer.unionMs(ivs, Double.MinValue, Double.MaxValue)
      val driverMs = s.ms - Tracer.unionMs(ivs, s.start, s.end)
      (jobs, jobMs, driverMs, (jobMs + driverMs - s.ms) / s.ms)
    }.toSeq
    val search = perCall("op:search")
    layerMetric("search.jobs", median(search.map(_._1.size.toDouble)), "count")
    layerMetric("search.stages", median(search.map(_._1.map(_.stages).sum.toDouble)), "count")
    layerMetric("search.tasks", median(search.map(_._1.map(_.tasks).sum.toDouble)), "count")
    layerMetric("search.job_ms", median(search.map(_._2)), "ms")
    layerMetric("search.driver_ms", median(search.map(_._3)), "ms")
    layerMetric("search.parts_gap_frac", median(search.map(_._4)), "ratio")
    val retrieve = perCall("op:retrieve")
    layerMetric("retrieve.jobs", median(retrieve.map(_._1.size.toDouble)), "count")
    layerMetric("retrieve.tasks", median(retrieve.map(_._1.map(_.tasks).sum.toDouble)), "count")
    layerMetric("retrieve.driver_ms", median(retrieve.map(_._3)), "ms")
    layerMetric("route.shard_frac", mean(routeFrac.toSeq), "ratio")
  }

  /** Stage seconds from the builder's `[build]` lines, jobs and bytes
    * from the listener; `other_s` is the wall time no stage covers.
    */
  private def indexLayers(): Unit = {
    val lines = tracer.buildLog.synchronized(tracer.buildLog.lines.toSeq)
    def stagesOf(s: Span, prefix: String, names: Seq[String]) = {
      val ls = lines.filter(l => l.at >= s.start && l.at <= s.end &&
        names.contains(l.stage.stripPrefix(prefix)) && l.stage.startsWith(prefix))
      val stageS = names.map(n => n -> ls.filter(_.stage == prefix + n).map(_.seconds).sum).toMap
      val covered = Tracer.unionMs(ls.map(l => (l.at - l.seconds * 1e3, l.at)), s.start, s.end)
      val otherS = (s.ms - covered) / 1e3
      (stageS, otherS, (stageS.values.sum + otherS - s.ms / 1e3) / (s.ms / 1e3))
    }
    // the last set-up build, which runs warm like the median one
    tracer.spans.filter(_.name == "op:build").lastOption.foreach { s =>
      val (st, other, gap) = stagesOf(s, "", Seq("docs", "stats", "postings", "norms", "dictionary"))
      layerMetric("build.docs_s", st("docs") + st("stats"), "s")
      layerMetric("build.postings_s", st("postings"), "s")
      layerMetric("build.norms_s", st("norms"), "s")
      layerMetric("build.dictionary_s", st("dictionary"), "s")
      layerMetric("build.other_s", other, "s")
      layerMetric("build.parts_gap_frac", gap, "ratio")
      val jobs = tracer.jobsUnder(s)
      layerMetric("build.jobs", jobs.size, "count")
      layerMetric("build.tasks", jobs.map(_.tasks).sum, "count")
      layerMetric("build.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum.toDouble, "bytes")
      layerMetric("build.output_bytes", jobs.map(_.outputBytes).sum.toDouble, "bytes")
      layerMetric("build.core_util_c4", jobs.map(_.runMs).sum / (s.ms * Cores), "ratio")
    }
    val appendSpans = tracer.spans.filter(_.name == "op:append").toSeq
    val parts = appendSpans.map(s =>
      stagesOf(s, "append.", Seq("docs", "postings", "dictionary", "norms")))
    Seq("docs", "postings", "dictionary", "norms").foreach(n =>
      layerMetric(s"append.${n}_s", mean(parts.map(_._1(n))), "s"))
    layerMetric("append.other_s", mean(parts.map(_._2)), "s")
    layerMetric("append.parts_gap_frac", mean(parts.map(_._3)), "ratio")
    val ajobs = appendSpans.map(tracer.jobsUnder)
    layerMetric("append.jobs", mean(ajobs.map(_.size.toDouble)), "count")
    val deltaText = textBytes(w.convs until w.convs + w.deltaConvs)
    layerMetric("append.write_amp", ajobs.flatten.map(_.outputBytes).sum.toDouble / deltaText, "ratio")
  }

  private def overhead(): Unit = {
    def ratio(xs: Seq[(Double, Boolean)]) =
      median(xs.filter(_._2).map(_._1)) / median(xs.filterNot(_._2).map(_._1))
    layerMetric("trace.overhead_frac",
      (ratio(retrieveLat.toSeq) + ratio(searchLat.toSeq)) / 2 - 1, "ratio")
  }

  /** Computes the per-layer metrics and writes the span file. */
  def finishTrace(): Unit = {
    tracer.drain()
    apiLayers()
    indexLayers()
    overhead()
    val dir = Paths.get(work, "trace")
    Files.createDirectories(dir)
    tracer.write(dir.resolve(s"${args.workload}-seed$seed.jsonl"))
  }

  /** 1-vs-4-core build scaling on the reference build's input: stops
    * the local[4] session and rebuilds the same turns at local[1].
    * The local[4] side is the reference build, which runs warm.
    */
  def scaling(): Unit = {
    spark.stop()
    val s1 = session(work, cores = 1)
    try {
      val jobs = new JobListener
      s1.sparkContext.addSparkListener(jobs)
      val b1 = s1.newSession()
      b1.conf.set("spark.sql.adaptive.enabled", "false")
      val (st, t1) = timedS(IndexBuilder.build(b1, allTurnsDs(b1), s"$work/index/reference-c1",
        cfg.copy(numPartitions = 1)))
      org.apache.spark.perfbench.Bus.drain(s1.sparkContext)
      op(st.numDocs == allTurns, "local[1] build indexed a different number of turns")
      layerMetric("build.scaling_eff", t1 / refBuildS / Cores, "ratio")
      val runMs: Double = jobs.synchronized(jobs.jobs.values.map(_.runMs).sum)
      layerMetric("build.core_util_c1", runMs / (t1 * 1e3), "ratio")
    } finally s1.stop()
  }

  def resultJson: String = {
    val out = if (args.trace) layer else metrics
    out.foreach { case (k, (v, _)) =>
      if (v.isNaN || v.isInfinite) op(false, s"metric $k is not a number")
    }
    failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    out.foreach { case (k, (v, u)) => println(f"$k%-30s $v%14.4f $u") }
    println(s"attempted=$attempted failed=$failed")
    val m = out.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }.toSeq
    Json.obj(Seq("correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(m)))
  }
}
