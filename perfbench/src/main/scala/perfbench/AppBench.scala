package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import graft.api.{GraftCollection, GraftDb}
import graft.embed.{Embedder, HashingEmbedder}
import graft.index.{IndexBuild, Pivots}
import graft.operators.Knn
import graft.streaming.VectorPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** What sets the workloads apart (from the benchmark's workloads.json),
  * and how many times to set up.
  */
final case class Params(corpus: Int, clients: Int, waveDocs: Int,
    warmupRounds: Int, setupReps: Int)

/** The `Embedder` the pipeline is handed in a traced run: each batch the
  * engine asks for is timed in the task thread and recorded as an
  * `embed.docs` interval under the drain span that is running.
  */
final case class TimedEmbedder(inner: Embedder) extends Embedder {
  def dims: Int = inner.dims
  def embed(texts: Iterator[String]): Iterator[Array[Float]] = {
    val t = TimedEmbedder.tracer
    if (t == null || t.streamingSpan == 0L) inner.embed(texts)
    else {
      val t0 = t.nowMs
      val out = inner.embed(texts).toVector
      t.record("embed.docs", t.streamingOp, t.streamingSpan, t0, t.nowMs)
      out.iterator
    }
  }
}

object TimedEmbedder {
  // tasks run in the driver JVM (local mode), so a static reaches them
  @volatile var tracer: Tracer = _
}

/** One operation as measured: its kind, wall interval (epoch ms), the
  * error it threw, a deferred output check (run after the timed window,
  * returning what was wrong) and kind-specific fields for the report.
  */
final class Op(val kind: String, val t0: Double, val t1: Double,
    val err: Option[String], val verify: () => Option[String],
    val fields: () => JObject)

/** The reference app's loop over the engine's public API: land items,
  * embed and index them through `VectorPipeline`, edit them with
  * `GraftCollection.upsert`, search with the three kNN strategies and
  * hydrate by id, query with Mango `find`.
  */
final class AppBench(spark: SparkSession, tracer: Tracer, p: Params,
    seed: Long, work: Path) {
  import AppBench._

  private val corpus = new Corpus(seed)
  private val embedder = HashingEmbedder(dims = 384)
  private val ops = new ConcurrentLinkedQueue[Op]
  // an op counts when it ran wholly inside the measured window
  @volatile private var window = (Double.MaxValue, Double.MinValue)
  private def add(op: Op): Unit =
    if (op.t0 >= window._1 && op.t1 <= window._2) ops.add(op)

  // Ids are Corpus.id(n); docs n < landed are in `items`, docs n <
  // committed are also drained into `vectors` and verified there.
  private val landed = new AtomicLong
  private val committed = new AtomicLong
  // GraftDb's upsert swaps the collection directory out and back, so an
  // app on this API must keep readers of `items` off it meanwhile
  private val itemsLock = new ReentrantReadWriteLock(true)
  // the documents in `items` as the writers committed them
  @volatile private var model: Map[String, String] = Map.empty

  private var items: GraftCollection = _
  private var vectors: GraftCollection = _
  private var vectorsPath: String = _
  private var pivots: Seq[Seq[Float]] = Nil
  private var pipeline: VectorPipeline = _
  private var waves = 0
  // redeliveries: the previous wave's tail, landed again
  private val redeliver = p.waveDocs / 10
  // GC time spent in the harness's own System.gc() calls
  private val explicitGc = new AtomicLong
  def explicitGcMs: Long = explicitGc.get
  private val revisions = scala.collection.mutable.HashMap.empty[Long, Int]

  private def now: Double = tracer.nowMs
  private def locked[T](l: java.util.concurrent.locks.Lock)(body: => T): T = {
    l.lock(); try body finally l.unlock()
  }

  private def docsDf(docs: Seq[(String, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (i, b) => Row(i, b) }.asJava, ItemsSchema)

  // ------------------------------------------------------------ setup

  /** Corpus → items, KMeans pivots, pivot-index build, into `dir`.
    * Returns the seconds each phase took.
    */
  private def setupOnce(dir: Path): Seq[(String, Double)] = {
    def timed(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      tracer.span(name)(body)
      name -> (System.nanoTime() - t0) / 1e9
    }
    val db = GraftDb(spark, dir.toString)
    items = db.collection("items")
    vectors = db.collection("vectors")
    vectorsPath = vectors.path
    val c = corpus
    val n = p.corpus
    Seq(
      timed("setup.corpus") {
        import spark.implicits._
        items.bulkInsert(spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
          .map(i => (Corpus.id(i), c.body(i))).toDF("id", "body"))
      },
      timed("setup.pivots") {
        // Learned on a training sample of the same topic families that is
        // the same for every seed. KMeans merges two of the 5 families
        // and splits another; which ones it picked on each seed's own
        // sample moved the 100k indexed search's median by ~20%.
        import spark.implicits._
        val t = new Corpus(Corpus.TrainingSeed)
        val sample = spark.range(0, PivotSample, 1, spark.sparkContext.defaultParallelism)
          .map(i => (Corpus.id(i), t.body(i))).toDF("id", "text")
        pivots = Pivots.learnKMeans(Embedder.embedText(sample, "text", embedder),
          "embedding", NumPivots)
      },
      timed("setup.index_build") {
        IndexBuild.buildFromDocuments(items.toDf, "id", "body", embedder, pivots, vectorsPath)
      })
  }

  /** Runs set-up `setupReps` times into fresh directories and keeps the
    * last; returns each repetition's total seconds and phase split.
    */
  def setup(): Seq[Seq[(String, Double)]] = {
    val reps = (0 until p.setupReps).map { r =>
      val dir = work.resolve(s"db$r")
      val phases = setupOnce(dir)
      if (r + 1 < p.setupReps) deleteTree(dir)
      phases
    }
    model = (0L until p.corpus).iterator.map(i => Corpus.id(i) -> corpus.body(i)).toMap
    landed.set(p.corpus); committed.set(p.corpus)
    val landing = work.resolve("landing"); Files.createDirectories(landing)
    val pipeEmbedder = if (tracer.enabled) TimedEmbedder(embedder) else embedder
    TimedEmbedder.tracer = tracer
    pipeline = new VectorPipeline(spark, landing.toString, vectorsPath,
      work.resolve("checkpoint").toString, pipeEmbedder, pivots)
    reps
  }

  // ------------------------------------------------------------ ops

  private def search(kind: String, rnd: SplittableRandom): Unit =
    add(searchOp(kind, corpus.query(rnd), s"knn_$kind"))

  /** Embed `text`, search it with strategy `kind` and hydrate the
    * results; the op is reported as `opKind`.
    */
  private def searchOp(kind: String, text: String, opKind: String): Op = {
    val from = committed.get
    val t0 = now
    var got: Seq[(String, Double)] = Nil
    var hydrated: Array[Row] = Array.empty
    var snap: Map[String, String] = Map.empty
    val err = attempt {
      tracer.span(s"search.$kind", tracer.newOp()) {
        val q = tracer.span("embed.query")(embedder.embedOne(text))
        got = tracer.span(s"knn.$kind") {
          val df = kind match {
            case "range" => vectors.vectorSearchIndexRange(q.toSeq, pivots)
            case "exact" => vectors.vectorSearchFullScan(q.toSeq).select("id", "dist")
            case "indexed" => Knn.searchIndexed(spark, vectorsPath, pivots, q, K, Nprobe)
                .select("id", "dist")
          }
          df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        }
        tracer.span("hydrate") {
          locked(itemsLock.readLock) {
            snap = model
            hydrated = items.findByIds("id", got.map(_._1)).select("id", "body").collect()
          }
        }
      }
    }
    val t1 = now
    val to = landed.get
    lazy val q = embedder.embedOne(text)
    lazy val truth = exactTopK(q, from, to, got.map(_._1))
    new Op(opKind, t0, t1, err,
      () => checkSearch(kind, q, got, truth, hydrated, snap),
      () => ("got" -> got.map(_._1)) ~ ("truth" -> truth.map { case (i, d) =>
        JArray(List(JString(i), JDouble(d))) }))
  }

  /** Untimed indexed searches of a fixed number of further queries,
    * after the window, `nproc` at a time: per-query recall is mostly 1
    * or near 0, so over the dozen indexed searches a 100k window fits,
    * recall swings with which queries a seed drew.
    * They are checked like the timed ones and count toward the indexed
    * recall only. Not run when tracing, so that every traced span is a
    * timed or warm-up op.
    */
  def recallProbes(): Unit = if (!tracer.enabled) {
    val rnd = new SplittableRandom(seed + 2)
    val texts = Vector.fill(RecallProbes)(corpus.query(rnd))
    texts.par.foreach(t => ops.add(searchOp("indexed", t, "probe_indexed")))
  }

  private def find(rnd: SplittableRandom): Unit = {
    val word = corpus.findWord(rnd)
    val regex = s"\\b$word\\b"
    var rows: Array[Row] = Array.empty
    var snap: Map[String, String] = Map.empty
    val t0 = now
    val err = attempt {
      tracer.span("mango.find", tracer.newOp()) {
        locked(itemsLock.readLock) {
          snap = model
          rows = items.find(Map("body" -> Map("$regex" -> regex)), Seq("body" -> "asc"),
            primaryKey = "id", limit = Some(K)).collect()
        }
      }
    }
    val t1 = now
    add(new Op("find", t0, t1, err, () => {
      val pat = java.util.regex.Pattern.compile(regex)
      val want = snap.iterator.filter { case (_, b) => pat.matcher(b).find() }
        .toSeq.sortBy { case (i, b) => (b, i) }.take(K)
      val have = rows.toSeq.map(r => (r.getAs[String]("id"), r.getAs[String]("body")))
      if (have == want) None else Some(s"find /$regex/ returned ${have.map(_._1)}, expected ${want.map(_._1)}")
    }, () => JObject()))
  }

  /** GraftCollection.upsert of edited items; one id appears twice in the
    * batch so last-writer-wins within a batch is checked too.
    */
  private def upsert(rnd: SplittableRandom): Unit = {
    val hi = committed.get
    val ns = Iterator.continually(rnd.nextLong(hi)).distinct.take(UpsertDocs - 1).toVector
    val batch = (ns :+ ns.head).map { n =>
      val rev = revisions.getOrElse(n, 0) + 1
      revisions(n) = rev
      (Corpus.id(n), corpus.body(n, rev))
    }
    val want = batch.toMap // later occurrence wins
    val incoming = batch.map { case (i, b) => i.getBytes(UTF_8).length + b.getBytes(UTF_8).length }.sum
    var t0, t1 = 0.0
    var lww: Option[String] = None
    var stored = 0L
    val err = locked(itemsLock.writeLock) {
      t0 = now
      val e = attempt(tracer.span("graftdb.upsert", tracer.newOp())(items.upsert(docsDf(batch), "id")))
      t1 = now
      if (e.isEmpty) {
        model = model ++ want
        val back = items.findByIds("id", want.keys.toSeq).select("id", "body").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        if (back.size != want.size || back.toMap != want)
          lww = Some(s"after upsert ${back.size} rows, ${back.count { case (i, b) => want.get(i).contains(b) }} current of ${want.size}")
        stored = dirBytes(Paths.get(items.path))
      }
      e
    }
    add(new Op("upsert", t0, t1, err, () => lww,
      () => JObject("write_amp" -> JDouble(stored.toDouble / incoming))))
  }

  /** Land one wave of new items (plus re-deliveries of the previous
    * wave's tail), drain the pipeline and wait until `vectors` serves
    * every id of the wave exactly once.
    */
  private def wave(): Unit = {
    val base = p.corpus.toLong + waves.toLong * p.waveDocs
    waves += 1
    val fresh = (base until base + p.waveDocs).map(n => Corpus.id(n) -> corpus.body(n))
    val redelivered = (base - redeliver until base).map(n => Corpus.id(n) -> corpus.body(n))
    val t0 = now
    var tLand, tFresh = 0.0
    var appended = 0L
    var seen: Map[String, Int] = Map.empty
    val err = attempt {
      locked(itemsLock.writeLock) {
        items.bulkInsert(docsDf(fresh))
        model = model ++ fresh
      }
      landed.set(base + p.waveDocs)
      val landing = work.resolve("landing")
      val tmp = landing.resolve(f".wave-$waves%06d.json")
      Files.write(tmp, (fresh ++ redelivered).map { case (i, b) =>
        compact(render(("id" -> i) ~ ("body" -> b)))
      }.asJava, UTF_8)
      Files.move(tmp, landing.resolve(f"wave-$waves%06d.json"), StandardCopyOption.ATOMIC_MOVE)
      tLand = now
      appended = tracer.span("pipeline.drain", tracer.newOp()) {
        val (sid, oid) = tracer.current
        tracer.streamingOp = oid; tracer.streamingSpan = sid
        try pipeline.runAvailableNow() finally tracer.streamingSpan = 0L
      }
      seen = vectors.findByIds("id", (fresh ++ redelivered).map(_._1)).select("id").collect()
        .groupBy(_.getString(0)).map { case (i, rs) => i -> rs.length }
      tFresh = now
    }
    committed.set(base + p.waveDocs)
    val files = parquetFiles(Paths.get(vectorsPath))
    val ids = (fresh ++ redelivered).map(_._1)
    add(new Op("drain", t0, if (err.isEmpty) tFresh else now, err, () => {
      val bad = ids.filter(i => seen.getOrElse(i, 0) != 1)
      if (bad.nonEmpty) Some(s"${bad.size} landed ids not present exactly once, e.g. ${bad.head} x${seen.getOrElse(bad.head, 0)}")
      else if (appended != p.waveDocs) Some(s"pipeline appended $appended of ${p.waveDocs} new docs")
      else None
    }, () => ("docs" -> p.waveDocs) ~ ("delivered" -> ids.size) ~ ("appended" -> appended) ~
      ("land" -> tLand) ~ ("fresh" -> tFresh) ~ ("files" -> files)))
  }

  // ------------------------------------------------------------ loops

  // A fixed order: an op right after a pivot-range search (which
  // shuffles the candidate embeddings) runs slower than one after a
  // cheap read, so a round that repeated the exact search would give it
  // two latency modes. The indexed search runs three times in a row: its
  // latency depends on which of the index's unequal clusters a query
  // probes, and a 100k window fits only about four rounds.
  private def reads(rnd: SplittableRandom): Unit = {
    search("range", rnd)
    if (p.clients == 1) collectGarbage()
    search("exact", rnd)
    for (_ <- 0 until 3) search("indexed", rnd)
    find(rnd)
  }

  /** Untimed, with no timed op running: lets Spark's cleaner delete the
    * range search's shuffle files (hundreds of MB at 100k) while they
    * are still unwritten page cache; deleted after writeback they cost a
    * run tens of seconds. Its GC time is kept out of `driver.gc_ms`.
    */
  private def collectGarbage(): Unit = {
    val g0 = gcMs
    System.gc()
    explicitGc.addAndGet(gcMs - g0)
  }

  /** One cycle of the clients. With one client: a wave, an upsert and a
    * round of reads in turn. With two: a writer thread lands and drains
    * one wave while the other client reads and then upserts, and the
    * cycle ends when both are done, so the writer idles whenever the
    * reader takes longer. Starting both together keeps the overlap of
    * each read with the drain the same in every cycle, so contention
    * does not depend on how the two drift. Every cycle lands a wave, so
    * the corpus grows with the number of cycles a run fits in.
    */
  private def cycle(rnd: SplittableRandom): Unit =
    if (p.clients == 1) { wave(); upsert(rnd); reads(rnd) }
    else {
      val writer = new Thread(() => wave())
      writer.start()
      reads(rnd); upsert(rnd)
      writer.join()
      collectGarbage()
    }

  /** Untimed cycles, so JIT and codegen are warm. */
  def warmUp(): Unit = {
    val rnd = new SplittableRandom(seed ^ 0x5bd1e995L)
    for (_ <- 0 until p.warmupRounds) cycle(rnd)
  }

  /** Runs the clients in cycles for `seconds`. */
  def measure(seconds: Double): Unit = {
    val start = now
    val end = start + seconds * 1e3
    window = (start, end)
    val rnd = new SplittableRandom(seed + 1)
    while (now < end) cycle(rnd)
  }

  // ------------------------------------------------------------ checks

  private lazy val embeddings: Array[Array[Float]] =
    (0L until landed.get).toArray.par.map(n => embedder.embedOne(corpus.body(n))).toArray

  /** Exact top-k by (distance, id) over the docs a search could see:
    * every doc committed before it started, plus docs of a wave still in
    * flight that it returned (only those are known to have been
    * visible). Ties with the k-th distance are kept, so a consumer can
    * break them by id.
    */
  private def exactTopK(q: Array[Float], from: Long, to: Long, got: Seq[String]): Seq[(String, Double)] = {
    val inFlight = got.flatMap(_.toLongOption).filter(n => n >= from && n < to)
    val cands = ((0L until from) ++ inFlight).toArray
    if (cands.isEmpty) return Nil
    val ds = cands.map(n => dist(q, embeddings(n.toInt)))
    val kth = ds.clone().sorted.apply(math.min(K, ds.length) - 1)
    cands.indices.filter(i => ds(i) <= kth).map(i => (ds(i), cands(i))).sorted
      .map { case (d, n) => (Corpus.id(n), d) }
  }

  /** What is wrong with a search's output, if anything: results beyond
    * k, unknown or repeated ids, order other than (distance, id), a
    * distance that is not the doc's true distance, for the exact
    * strategy any departure from the exact answer, and a hydration that
    * misses an id or returns a stale body.
    */
  private def checkSearch(kind: String, q: Array[Float], got: Seq[(String, Double)],
      truth: => Seq[(String, Double)], hydrated: Array[Row],
      snap: Map[String, String]): Option[String] = {
    val ns = got.flatMap { case (i, _) => i.toLongOption.filter(n => n >= 0 && n < embeddings.length) }
    lazy val wantDists = truth.take(K).map(_._2)
    lazy val byId = hydrated.groupBy(_.getString(0))
    if (got.size > K) Some(s"${got.size} results for k=$K")
    else if (ns.size != got.size) Some(s"unknown ids in ${got.map(_._1)}")
    else if (got.map(_._1).distinct.size != got.size) Some("duplicate ids")
    else if (got.zip(got.drop(1)).exists { case (a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 > b._1) })
      Some("results not ordered by (distance, id)")
    else if (got.zip(ns).exists { case ((_, d), n) => math.abs(d - dist(q, embeddings(n.toInt))) > 1e-9 })
      Some("a returned distance is not the doc's distance to the query")
    else if (kind == "exact" && (got.size != wantDists.size ||
        got.map(_._2).zip(wantDists).exists { case (a, b) => math.abs(a - b) > 1e-9 }))
      Some(s"exact search returned ${got.map(_._1)}, expected ${truth.take(K).map(_._1)}")
    else if (hydrated.length != got.size || got.exists { case (i, _) =>
        byId.get(i).forall(rs => rs.length != 1 || !snap.get(i).contains(rs.head.getString(1))) })
      Some(s"hydration returned ${hydrated.length} rows for ${got.size} ids, or stale bodies")
    else None
  }

  /** Run every deferred check (in parallel: the exact answers scan the
    * whole corpus per search) and return one report entry per op.
    */
  def report(): Seq[JObject] = ops.asScala.toVector.par.map { op =>
    val wrong = op.err.orElse(op.verify())
    ("kind" -> op.kind) ~ ("t0" -> op.t0) ~ ("t1" -> op.t1) ~ ("ok" -> wrong.isEmpty) ~
      ("err" -> wrong) merge op.fields()
  }.seq

  def storedBytesPerDoc: Double =
    (dirBytes(Paths.get(items.path)) + dirBytes(Paths.get(vectorsPath))).toDouble / model.size
}

object AppBench {
  val K = 10
  val NumPivots = 5
  // index partitions Knn.searchIndexed probes
  val Nprobe = 2
  // training documents the KMeans pivots are learned on
  val PivotSample = 10000
  // edited items per GraftCollection.upsert
  val UpsertDocs = 100
  // untimed indexed searches per run for recall_at_10
  val RecallProbes = 40
  val ItemsSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("body", StringType, nullable = false)))

  def dist(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Total GC time of the JVM so far, in ms. */
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
    .map(_.getCollectionTime).sum

  /** The error an operation threw, as text; None when it returned. */
  def attempt(body: => Unit): Option[String] =
    try { body; None } catch { case e: Throwable => Some(e.toString.take(300)) }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def parquetFiles(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
  }
}
