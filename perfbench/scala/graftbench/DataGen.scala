package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation: every table and corpus the engine reads in a
  * run is generated here, from a seed alone.
  *
  * `writeTables` produces the ten tables `graft.Tables` loads (same names,
  * columns and value domains as the engine's TPC-H-ish test tables).
  * `Keyframes` is the serving corpus: clustered unit vectors laid out as
  * videos of 20 keyframes and shots of 2, the shape the serving facade
  * expects. */
object DataGen {
  val vocab: Vector[String] = Vector(
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
    "big", "sort", "query", "fast", "the")

  final case class Scale(
      customers: Int, suppliers: Int, parts: Int, orders: Int,
      events: Int, users: Int, documents: Int, embeddings: Int)

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 1000003L + salt)

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  def unitGaussian(r: SplittableRandom, d: Int): Array[Float] = {
    val v = Array.fill(d)(gaussian(r))
    normalize(v.map(_.toFloat))
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def words(r: SplittableRandom, lo: Int, hi: Int): String =
    Seq.fill(lo + r.nextInt(hi - lo + 1))(vocab(r.nextInt(vocab.size))).mkString(" ")

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Writes `region nation customer supplier part orders lineitem events
    * documents embeddings` as `<dir>/<name>.parquet`. */
  def writeTables(spark0: SparkSession, dir: String, seed: Long, s: Scale): Unit = {
    // micros timestamps, like the engine's test tables, on a session clone so
    // the caller's conf is untouched
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    val day = 86400000L
    val epoch1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime

    write(spark, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (n, i) => Row(i, n) },
      st("r_regionkey" -> IntegerType, "r_name" -> StringType), s"$dir/region.parquet")
    write(spark, (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      s"$dir/nation.parquet")

    val segs = Vector("MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD")
    val rc = rng(seed, 1)
    write(spark, (0 until s.customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        rc.nextInt(25), r2(-999.99 + rc.nextDouble() * 10999.98), segs(rc.nextInt(5)))),
      st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), s"$dir/customer.parquet")

    val rs = rng(seed, 2)
    write(spark, (0 until s.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rs.nextInt(25), r2(-999.99 + rs.nextDouble() * 10999.98))),
      st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType), s"$dir/supplier.parquet")

    val adj = Vector("blue", "hot", "small", "old", "red", "new", "cold")
    val noun = Vector("bolt", "gear", "anvil", "ring", "widget", "rod", "plate")
    val types = Vector("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
    val rp = rng(seed, 3)
    val retail = Array.tabulate(s.parts)(i => 900.0 + (i % 1000) / 10.0)
    write(spark, (0 until s.parts).map(i => Row(i.toLong,
        adj(rp.nextInt(adj.size)) + " " + noun(rp.nextInt(noun.size)),
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(types.size)),
        1 + rp.nextInt(50), retail(i))),
      st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      s"$dir/part.parquet")

    val prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rng(seed, 4)
    val orderDay = Array.fill(s.orders)(ro.nextInt(2403))
    write(spark, (0 until s.orders).map(i => Row(i.toLong, ro.nextInt(s.customers).toLong,
        Vector("F", "O", "P")(ro.nextInt(3)), r2(1000.0 + ro.nextDouble() * 499000.0),
        new Timestamp(epoch1995 + orderDay(i) * day), prios(ro.nextInt(5)))),
      st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
        "o_orderpriority" -> StringType), s"$dir/orders.parquet")

    val rl = rng(seed, 5)
    val lines = (0 until s.orders).flatMap { o =>
      (1 to 1 + rl.nextInt(7)).map { ln =>
        val part = rl.nextInt(s.parts)
        val qty = (1 + rl.nextInt(50)).toDouble
        Row(o.toLong, part.toLong, rl.nextInt(s.suppliers).toLong, ln, qty,
          r2(qty * retail(part)), rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
          Vector("A", "N", "R")(rl.nextInt(3)), Vector("F", "O")(rl.nextInt(2)),
          new Timestamp(epoch1995 + (orderDay(o) + 1 + rl.nextInt(120)) * day))
      }
    }
    write(spark, lines,
      st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType), s"$dir/lineitem.parquet")

    val evTypes = Vector("click", "signup", "error", "view", "purchase")
    val re = rng(seed, 6)
    val epoch2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val span = 30L * day * 1000L
    val evTs = Array.fill(s.events)((re.nextDouble() * span).toLong).sorted
    write(spark, (0 until s.events).map { i =>
        val ts = new Timestamp((epoch2024 + evTs(i)) / 1000L)
        ts.setNanos((((epoch2024 + evTs(i)) % 1000000L) * 1000L).toInt)
        Row(i.toLong, ts, re.nextInt(s.users).toLong, evTypes(re.nextInt(5)),
          r2(0.01 + re.nextDouble() * 490.0), s"""{"k": ${re.nextInt(100)}}""")
      },
      st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      s"$dir/events.parquet")

    val langs = Vector("en", "en", "en", "fr", "zh", "de", "es")
    val rd = rng(seed, 7)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val docs = (0 until s.documents).map { i =>
      // one document in twenty repeats an earlier one, so the dedup
      // operators have duplicates to find
      val text =
        if (i > 0 && rd.nextInt(20) == 0) texts(rd.nextInt(texts.size)) + " dup"
        else words(rd, 10, 99)
      texts += text
      Row(i.toLong, text, langs(rd.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    write(spark, docs,
      st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), s"$dir/documents.parquet")

    val rv = rng(seed, 8)
    write(spark, (0 until s.embeddings).map(i =>
        Row(i.toLong, unitGaussian(rv, 64).toSeq, rv.nextInt(10))),
      st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      s"$dir/embeddings.parquet")
  }

  /** The serving corpus: keyframes 20 per video and 2 per shot,
    * `partition_tag` = id mod 4. A video's keyframes share one of
    * `centers` cluster centres, so ANN cells and result groups are
    * meaningful. Vectors and tag text are pure functions of (seed, id). */
  final class Keyframes(seed: Long, val dim: Int = 64, centers: Int = 40) {
    private val centre: Array[Array[Float]] = {
      val r = rng(seed, 100)
      Array.fill(centers)(unitGaussian(r, dim))
    }
    def vector(id: Long): Array[Float] = {
      val r = rng(seed, 1000000L + id)
      val c = centre(((id / 20) % centers).toInt)
      normalize(Array.tabulate(dim)(j => c(j) + (0.8 * gaussian(r) / math.sqrt(dim)).toFloat))
    }
    def text(id: Long): String = words(rng(seed, 5000000L + id), 10, 60)

    def videoOf(id: Long): String = s"V${id / 20}"
    def shotOf(id: Long): Int = ((id % 20) / 2).toInt
    def tagOf(id: Long): Int = (id % 4).toInt

    /** Writes `kf`, `emb` (id, clip, clipv2) and `docs` (doc_id, text) for
      * ids [0, n) under `dir`. */
    def write(spark: SparkSession, dir: String, n: Long): Unit = {
      val ids = 0L until n
      DataGen.write(spark, ids.map(i => Row(i, "kf", videoOf(i), shotOf(i), tagOf(i))),
        StructType(Seq(StructField("id", LongType), StructField("collection", StringType),
          StructField("video_id", StringType), StructField("shot_id", IntegerType),
          StructField("partition_tag", IntegerType))), s"$dir/kf")
      DataGen.write(spark, ids.map { i => val v = vector(i); Row(i, v.toSeq, v.reverse.toSeq) },
        StructType(Seq(StructField("id", LongType),
          StructField("clip", ArrayType(FloatType)), StructField("clipv2", ArrayType(FloatType)))),
        s"$dir/emb")
      DataGen.write(spark, ids.map(i => Row(i, text(i))),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
        s"$dir/docs")
    }
  }
}
