package graftbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import graft.api.{Corpus, Filters, SearchEngine}
import graft.operators.{Lexical, Similarity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The serving corpus and its built indexes, ready to answer requests. */
final class Served(
    val engine: SearchEngine, val dense: Similarity.DenseIndex,
    val panel: Lexical.MultiSparseIndex, val sparse: Lexical.SparseIndex)

/** One drawn request. `qv` is the query vector (for imgsearch, the stored
  * vector of `qid`); `ids` carries feedback/temporal's previous page. */
final case class Req(
    endpoint: String, qv: Array[Float], qid: Long, filters: Filters,
    terms: Seq[String], ids: Seq[Long])

/** serve_mix: closed-loop clients over [[graft.api.SearchEngine]]. */
final class Serve(spark: SparkSession, rec: Recorder, seed: Long) {
  val k = 50
  val buildRows = 2000L
  // the corpus is fixed (like the engine's own sf0.1-derived serving
  // corpus); only the requests follow the seed
  val corpusSeed = 42L
  val kf = new DataGen.Keyframes(corpusSeed)
  private val cpus = spark.sparkContext.defaultParallelism
  /** Index geometry sized for the corpus and a 4-core host: the automatic
    * geometry (179 cells) alone takes 30-45 s to build there. 20 cells of
    * ~100 rows, 4 probed: a probed share of 1/5, below the facade's 1/4
    * broadcast boundary as the automatic geometry's is, and not on it.
    * 8x8 PQ with 32 codes. */
  val ivfParams = Similarity.IvfParams(nlist = 20, lloydIters = 2, numSub = 8, subDim = 8,
    numCentroids = 32, pqIters = 1, defaultNprobe = 4)

  /** A 13-request block. The first ten are `graft.ServeMixBench`'s mix:
    * four `textsearch_ann` (two plain, one partition-filtered, one
    * ignore-listed), two `panel`, two `feedback`, one `temporal` and one
    * `imgsearch_ann`. That bench serves no `textsearch_pq`,
    * `textsearch_binary` or `hybrid`; they get one request each so every
    * endpoint is served, a share with no measured traffic behind it. */
  val mix: Seq[String] = Seq("textsearch_ann", "textsearch_ann", "textsearch_ann/partition",
    "textsearch_ann/ignore", "panel", "panel", "feedback", "feedback", "temporal",
    "imgsearch_ann", "textsearch_pq", "textsearch_binary", "hybrid")
  val endpoints: Seq[String] = mix.map(_.takeWhile(_ != '/')).distinct
  val annEndpoints = Set("textsearch_ann", "textsearch_pq", "textsearch_binary", "imgsearch_ann")

  /** A text-style query: a corpus vector pushed off its item, so the exact
    * neighbours are the item's video and cluster rather than the item. */
  private def nearVector(r: SplittableRandom): Array[Float] = {
    val v = kf.vector(r.nextLong(buildRows))
    DataGen.normalize(v.map(x => x + (0.3 * DataGen.gaussian(r) / math.sqrt(kf.dim)).toFloat))
  }
  private def terms(r: SplittableRandom): Seq[String] =
    Seq.fill(2)(DataGen.vocab(r.nextInt(DataGen.vocab.size)))

  /** Request `i` of the serve_mix stream: every block of [[mix]].size
    * requests is [[mix]] in a seeded order, so the shares are the same for
    * every seed; the seed draws vectors, filters and terms. */
  def request(i: Int): Req = {
    val kind = new scala.util.Random(seed * 7919L + i / mix.size).shuffle(mix).apply(i % mix.size)
    val ep = kind.takeWhile(_ != '/')
    val r = new SplittableRandom(seed * 1000003L + i)
    val prev = Seq.fill(10)(r.nextLong(buildRows)).distinct
    kind match {
      case "textsearch_ann" => Req(ep, nearVector(r), -1, Filters(), Nil, Nil)
      case "textsearch_ann/partition" =>
        Req(ep, nearVector(r), -1, Filters(partitionTag = Some(r.nextInt(4))), Nil, Nil)
      case "textsearch_ann/ignore" =>
        Req(ep, nearVector(r), -1, Filters(ignoreIds = Seq(r.nextLong(buildRows))), Nil, Nil)
      case "imgsearch_ann" =>
        val id = r.nextLong(buildRows); Req(ep, kf.vector(id), id, Filters(), Nil, Nil)
      case "hybrid" | "panel" => Req(ep, nearVector(r), -1, Filters(), terms(r), Nil)
      case _ => Req(ep, nearVector(r), -1, Filters(), Nil, prev)
    }
  }

  /** Builds the indexes over the corpus in `dataDir` into `dir` and serves
    * the first request of each endpoint: what it takes before the first
    * measured request can be served. Returns the layers' times too. */
  def setup(dataDir: String, dir: String): (Served, Map[String, Double]) = {
    val kfDf = spark.read.parquet(s"$dataDir/kf")
    val emb = spark.read.parquet(s"$dataDir/emb")
    val docs = spark.read.parquet(s"$dataDir/docs")
    val shots = kfDf.groupBy(col("video_id"), col("shot_id"))
      .agg(sort_array(collect_list(col("id"))).as("keyframe_ids"))
    def timed[A](f: => A): (A, Double) = { val t = rec.now; val a = f; (a, (rec.now - t) / 1e3) }
    // one after the other, so each layer's time is its own
    val (dense, tDense) = timed(Similarity.buildDenseIndex(
      emb.filter(col("id") < buildRows).select(col("id"), col("clip")),
      s"$dir/dense", params = Some(ivfParams), idCol = "id", vecCol = "clip"))
    val ((panel, sparse), tLex) = timed {
      val tagDocs = docs.filter(col("doc_id") < buildRows)
      (Lexical.writeMultiIndex(spark, Seq(("tag", tagDocs, "doc_id", "text")), s"$dir/panel"),
        Lexical.writeIndex(spark, tagDocs, "doc_id", "text", s"$dir/sparse"))
    }
    val served = new Served(new SearchEngine(Corpus(kfDf, emb, shots)), dense, panel, sparse)
    // the first request of each endpoint, from one client per core
    val (_, tWarm) = timed {
      val firsts = endpoints.map(ep => request(Iterator.from(0).find(request(_).endpoint == ep).get))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
      try firsts.map(q => pool.submit(() => plan(served, q).collect())).foreach(_.get())
      finally pool.shutdown()
    }
    (served, Map("Similarity.build_s" -> tDense, "Lexical.index_s" -> tLex,
      "SearchEngine.warm_s" -> tWarm))
  }

  def plan(s: Served, q: Req): DataFrame = {
    val dense = s.dense
    import spark.implicits._
    def prevPage = q.ids.zipWithIndex.map { case (id, j) => (id, 0.9 - 0.05 * j) }.toDF("id", "score")
    q.endpoint match {
      case "textsearch_ann" => s.engine.textSearchAnn(dense, q.qv, k, q.filters)
      case "textsearch_pq" => s.engine.textSearchAnnPq(dense, q.qv, k, q.filters)
      case "textsearch_binary" =>
        // an uncalibrated index has no default_kcoarse_bq, so the
        // shortlist size is given
        s.engine.textSearchAnnBinary(dense, q.qv, k, q.filters, kCoarse = Some(4 * k))
      case "imgsearch_ann" => s.engine.imageSearchAnn(dense, q.qid, k, q.filters)
      case "hybrid" => s.engine.hybridSearch(dense, s.sparse, q.qv, q.terms.mkString(" "), k)
      case "panel" => s.engine.panelIndexed(s.panel, Map("tag" -> q.terms), k, q.filters)
      case "feedback" => s.engine.feedback(prevPage, posIds = q.ids.take(1), negIds = q.ids.slice(1, 2))
      case "temporal" => s.engine.temporalRequery(prevPage, q.qv, k, range = 2)
    }
  }

  /** Ids a result returns: the grouped shape's `ids` arrays, or the flat
    * `id` column of feedback and temporal. */
  def idsOf(rows: Array[Row]): Seq[Long] =
    if (rows.isEmpty) Nil
    else if (rows.head.schema.fieldNames.contains("ids")) rows.toSeq.flatMap(_.getAs[scala.collection.Seq[Long]]("ids"))
    else rows.toSeq.map(_.getAs[Long]("id"))

  private def shotKey(id: Long) = (kf.videoOf(id), kf.shotOf(id))

  /** The request's output check: a non-empty result that honours the
    * request's candidate filters. */
  def check(q: Req, ids: Seq[Long]): Option[String] =
    if (ids.isEmpty) Some(s"${q.endpoint} returned no rows")
    else q.filters.partitionTag.flatMap(p => ids.find(kf.tagOf(_) != p)
        .map(id => s"id $id is outside partition $p"))
      .orElse(q.filters.ignoreIds.headOption.flatMap(ig =>
        ids.find(id => shotKey(id) == shotKey(ig)).map(id => s"id $id is in ignored shot of $ig")))

  /** Exact top-k over the build corpus under the request's filters, scored
    * like the facade (dot product rounded to 6 places, id tiebreak). */
  lazy val corpusVectors: Array[Array[Float]] = Array.tabulate(buildRows.toInt)(i => kf.vector(i))
  def exactTopK(q: Req): Seq[Long] = {
    val ignored = q.filters.ignoreIds.map(shotKey).toSet
    corpusVectors.indices.iterator
      .filter(i => q.filters.partitionTag.forall(_ == kf.tagOf(i)) && !ignored(shotKey(i)))
      .map { i =>
        val v = corpusVectors(i)
        var d = 0.0; var j = 0
        while (j < v.length) { d += v(j).toDouble * q.qv(j); j += 1 }
        (math.round(d * 1e6) / 1e6, i.toLong)
      }.toSeq.sortBy { case (s, i) => (-s, i) }.take(k).map(_._2)
  }

  /** A closed loop of one client per core, each in its own FAIR pool and
    * each waiting for its result before sending the next request drawn by
    * [[request]], until `seconds` have passed. */
  def serveMix(s: Served, seconds: Double): Map[String, Double] = {
    val next = new AtomicInteger()
    val results = new java.util.concurrent.ConcurrentHashMap[String, (Req, Seq[Long])]()
    val deadline = rec.now + seconds * 1e3
    val clients = (0 until cpus).map { c =>
      new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client-$c")
        while (rec.now < deadline) client(s, request(next.getAndIncrement()), results)
      }, s"client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    // recall against exact search, after the window (untimed)
    import scala.jdk.CollectionConverters._
    val recalls = results.asScala.toSeq.map { case (_, (q, ids)) =>
      exactTopK(q).toSet.intersect(ids.toSet).size.toDouble / k
    }
    Map("SearchEngine.recall_at_k" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size))
  }

  private def client(s: Served, q: Req,
      results: java.util.concurrent.ConcurrentHashMap[String, (Req, Seq[Long])]): Unit = {
    rec.op("req", "SearchEngine", q.endpoint) { ctx =>
      val df = ctx.phase("plan")(plan(s, q))
      val ids = idsOf(ctx.phase("exec")(df.collect()))
      if (annEndpoints(q.endpoint)) results.put(ctx.id, (q, ids))
      ids
    }(check(q, _))
  }
}
