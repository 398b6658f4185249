package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import graft.{SparkEntry, Tables}
import graft.operators.Similarity
import graft.streaming.IncrementalIndex
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** batch_suite, the engine's offline half: one cold pass over a fixed set
  * of `SparkEntry.queries`, each materialized through the noop sink as
  * `graft.Bench` does it, with seeded index-maintenance rounds
  * ([[graft.streaming.IncrementalIndex]]) between them. */
final class Batch(spark: SparkSession, rec: Recorder, seed: Long, work: String) {
  /** The table geometry: the engine's sf0.01 test tables. */
  val scale = DataGen.Scale(customers = 1500, suppliers = 100, parts = 2000, orders = 15000,
    events = 10000, users = 150, documents = 500, embeddings = 500)
  /** Fixed so each query's recorded fingerprint stays valid; the run seed
    * only orders the pass. */
  val dataSeed = 42L

  /** One query from each module family and one from the rest of the
    * catalogue: the full 174-query cold pass takes ~280 s at 4 cores, far
    * past one run. Each family's query was picked so that its share of
    * this pass's time matches the family's share of the full pass
    * (`graft.Bench` at 4 cores on sf0.1: other 0.33, dedup 0.15, text
    * 0.12, sim 0.12, eval 0.11, curation 0.07, stream 0.07, mm 0.02), by
    * `graft.Bench`'s per-query times at sf0.01. Queries over a shared
    * memoized artifact (`*Artifacts` in `SparkEntry`) were left out: a
    * full pass fits it once for many queries, this pass would charge the
    * whole fit to one. The sim query that matched, a d768 IVF-PQ fit
    * (`sim_ivfpq_d768_batch_refine`, 1.0 s warm), took 15 s cold, so the
    * family's median query stands in and sim is under-weighted. */
  val queries: Seq[String] = Seq(
    "sim_cluster_assign", "eval_opq_recall", "dedup_substring_apply",
    "text_decontaminate_spans", "curation_temperature_mix", "stream_curate", "mm_resize",
    "q36_curation_e2e")

  def layerOf(q: String): String = q.takeWhile(_ != '_') match {
    case "sim" => "Similarity"
    case "eval" => "Eval"
    case "dedup" => "Dedup"
    case "text" => "TextAnalysis"
    case "curation" => "Curation"
    case "stream" => "streaming"
    case "mm" => "Multimodal"
    case _ => "SparkEntry"
  }

  def writeData(dir: String): Unit = DataGen.writeTables(spark, dir, dataSeed, scale)

  /** Copies the generated tables to `dir` and opens every table there the
    * way the queries will (handle resolution plus a first scan). */
  def setup(from: String, dir: String): Double = {
    Files.createDirectories(Path.of(dir))
    Files.walk(Path.of(from)).forEach { p =>
      val to = Path.of(dir).resolve(Path.of(from).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
    }
    val t = rec.now
    Tables.names.foreach(n => Tables(spark, dir, n).count())
    (rec.now - t) / 1e3
  }

  /** Order-insensitive fingerprint of a result: row count plus the sum and
    * xor of the rows' hashes. */
  def fingerprint(rows: Array[org.apache.spark.sql.Row]): String = {
    val hs = rows.map(r => scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong & 0xffffffffL)
    s"${rows.length}:${hs.sum}:${hs.foldLeft(0L)(_ ^ _)}"
  }

  def query(dir: String, q: String): Unit = {
    val fn = SparkEntry.queries(q)
    rec.op("query", layerOf(q), q) { ctx =>
      val df = ctx.phase("plan")(fn(spark, dir))
      ctx.phase("exec")(df.write.format("noop").mode("overwrite").save())
      (ctx, df)
    } { case (ctx, df) =>
      // the check re-runs the plan as collect, untimed, so the timed plan
      // is exactly the noop write's
      ctx.detail = fingerprint(df.collect())
      None
    }
  }

  val rounds = 2
  val roundRows = 50

  /** Runs the pass: half the queries, a maintenance round, the other
    * half, a second round. Returns the maintenance layer's measurements. */
  def pass(dir: String): Map[String, Double] = {
    val m = new Maintenance(dir)
    // A fixed order: in a fresh JVM the first ops and the first user of
    // each code path pay for class loading and JIT, and a seeded order
    // moved that cost between ops (the per-op median spread 12% across
    // seeds). The seed draws the maintenance rounds' inputs.
    val (first, second) = queries.splitAt(queries.size / 2)
    first.foreach(query(dir, _))
    m.round(0)
    second.foreach(query(dir, _))
    m.round(1)
    m.result
  }

  /** Index maintenance over the embeddings and documents tables: each
    * round lands `roundRows` new vectors and documents, folds them in with
    * `updateDenseIndex` and `updatePostings`, deletes a few earlier ids,
    * and the last round compacts the cell store. */
  final class Maintenance(dir: String) {
    private val base = s"$work/maintenance"
    private val sink = s"$base/store"
    private val postSink = s"$base/postings"
    private val cents = Tables(spark, dir, "embeddings").filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cluster"), col("embedding").as("cv"))
    private val landed = mutable.ArrayBuffer.empty[Long]
    private val deleted = mutable.Set.empty[Long]
    private val fresh = mutable.ArrayBuffer.empty[Double]
    private var ingestMs = 0.0
    private var bytesWritten = 0L
    private var done = 0

    private def files(root: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(root)).map(f => f.getPath -> f.length).toMap
    }

    /** One op per maintenance step; the bytes it adds to the stores count
      * toward bytes written per landed row. */
    private def step[A](name: String)(body: => A)(check: A => Option[String] = (_: A) => None): Option[A] = {
      val before = files(sink) ++ files(postSink)
      val out = rec.op("maint", "IncrementalIndex", name)(_ => body)(check)
      bytesWritten += (files(sink) ++ files(postSink))
        .collect { case (p, n) if !before.get(p).contains(n) => n }.sum
      out
    }

    /** Ids of the live store that a k=1 self-query does not return. */
    private def unfound(ids: Seq[Long]): Seq[Long] = {
      import spark.implicits._
      val store = IncrementalIndex.loadDenseStore(spark, sink)
      val qs = store.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      // three cells probed: a vector sits in its nearest cell, and a
      // rounding tie with the runner-up cell must not hide it
      val top1 = Similarity.ivfSearchBatchPruned(store, cents, qs, nprobe = 3, k = 1)
        .select(col("query_id"), col("vec_id")).as[(Long, Long)].collect().toMap
      ids.filterNot(id => top1.get(id).contains(id))
    }

    def round(r: Int): Unit = {
      val ids = (0 until roundRows).map(j => 1000000L + r * roundRows + j)
      val rg = new java.util.SplittableRandom(seed * 31L + r)
      val vecs = spark.createDataFrame(java.util.Arrays.asList(ids.map(id =>
          Row(id, DataGen.unitGaussian(rg, 64).toSeq, (id % 10).toInt)): _*),
        StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))
      val docs = spark.createDataFrame(java.util.Arrays.asList(ids.map(id =>
          Row(id, DataGen.words(rg, 10, 60))): _*),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      val t0 = rec.now
      val ok = step("land") {
        vecs.coalesce(1).write.mode("append").parquet(s"$base/landing/dense")
        docs.coalesce(1).write.mode("append").parquet(s"$base/landing/docs")
      }().isDefined && step("update")(IncrementalIndex.updateDenseIndex(
          spark, s"$base/landing/dense", sink, s"$base/ckpt-dense", cents))().isDefined &&
        step("postings")(IncrementalIndex.updatePostings(
          spark, s"$base/landing/docs", postSink, s"$base/ckpt-docs"))().isDefined
      if (ok) {
        ingestMs += rec.now - t0
        landed ++= ids
        done += 1
        // every id landed so far and not deleted answers its own self-query
        val live = landed.filterNot(deleted).toSeq
        rec.op("check", "IncrementalIndex", "self_query")(_ => unfound(live)) { miss =>
          if (miss.isEmpty) None else Some(s"${miss.size} landed ids not found, e.g. ${miss.take(3)}")
        }.foreach(_ => fresh += (rec.now - t0) / 1e3)
      }
      if (r > 0) {
        import spark.implicits._
        val rg2 = new scala.util.Random(seed * 17L + r)
        val del = rg2.shuffle(landed.filterNot(deleted).toSeq).take(5)
        step("delete")(IncrementalIndex.deleteFromDenseIndex(spark, sink, del.toDF("vec_id"))) { _ =>
          deleted ++= del
          served()
        }
      }
      if (r == rounds - 1) step("compact")(IncrementalIndex.compactCells(spark, sink))(_ => served())
    }

    /** The live store serves every landed id except the deleted ones. */
    private def served(): Option[String] = {
      val ids = IncrementalIndex.loadDenseStore(spark, sink).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
      val back = deleted.filter(ids)
      val lost = landed.filterNot(id => deleted(id) || ids(id))
      if (back.nonEmpty) Some(s"deleted ids still served: ${back.take(3)}")
      else if (lost.nonEmpty) Some(s"landed ids lost: ${lost.take(3)}")
      else None
    }

    def result: Map[String, Double] = {
      val storeFiles = files(sink).keys.count(p => p.endsWith(".parquet") && !p.contains("/_"))
      val sorted = fresh.sorted
      Map(
        "IncrementalIndex.freshness_p50_s" -> (if (sorted.isEmpty) 0.0 else sorted((sorted.size - 1) / 2)),
        "IncrementalIndex.rows_per_s" -> (if (ingestMs == 0) 0.0 else done * roundRows / (ingestMs / 1e3)),
        "IncrementalIndex.store_files" -> storeFiles.toDouble,
        "IncrementalIndex.bytes_per_row" -> (if (done == 0) 0.0 else bytesWritten.toDouble / (done * roundRows)))
    }
  }
}
