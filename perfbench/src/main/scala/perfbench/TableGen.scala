package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded star-schema, event and corpus tables with the column names,
  * types and value ranges of the program's test data (one parquet
  * directory per table, `<dir>/<table>.parquet`), at a size set by the
  * benchmark. Documents are random-word texts over a small vocabulary
  * with a share of exact and near duplicates planted, so the dedup
  * operators have real matches to find; embeddings cluster around one
  * centroid per label. */
object TableGen {
  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
                         events: Int, docs: Int, vectors: Int)

  private val Vocab = ("a the key agg row scan slow fast table value part hash merge batch " +
    "spark window order data column join small line customer query group stream sort filter " +
    "big vector").split(' ')
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartTypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Adj = Array("small", "red", "blue", "hot", "old", "large", "shiny", "cold")
  private val Noun = Array("ring", "widget", "bolt", "gear", "gizmo", "plate", "spring", "valve")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "signup", "error", "view", "purchase")
  private val Statuses = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatuses = Array("O", "F")

  private def money(rng: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0

  private def write(spark: SparkSession, dir: String, name: String, schema: StructType,
                    rows: Seq[Row]): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  /** The TPC-H-shaped tables and `events`. A line ships 1 to 240 days
    * after its order, so about a quarter of the lines are late by the
    * 180-day rule of `q21_late_solo`. */
  def warehouse(spark: SparkSession, dir: String, seed: Long, z: Sizes): Unit = {
    val rng = new SplittableRandom(seed)
    write(spark, dir, "region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write(spark, dir, "nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write(spark, dir, "customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until z.customers).map(i => Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
        money(rng, -999.99, 9999.99), Segments(rng.nextInt(Segments.length)))))
    write(spark, dir, "supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until z.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.nextInt(25),
        money(rng, -999.99, 9999.99))))
    write(spark, dir, "part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until z.parts).map(i => Row(i.toLong, s"${Adj(rng.nextInt(8))} ${Noun(rng.nextInt(8))}",
        s"Brand#${1 + rng.nextInt(25)}", PartTypes(rng.nextInt(6)), 1 + rng.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val orders = (0 until z.orders).map { i =>
      Row(i.toLong, rng.nextInt(z.customers).toLong, Statuses(rng.nextInt(3)),
        money(rng, 1000, 500000), day0.plusDays(rng.nextInt(2404).toLong), Priorities(rng.nextInt(5)))
    }
    write(spark, dir, "orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
      f("o_orderpriority", StringType))), orders)
    val lines = orders.flatMap { o =>
      val od = o.getAs[LocalDateTime](4)
      (1 to 1 + rng.nextInt(7)).map { ln =>
        Row(o.getLong(0), rng.nextInt(z.parts).toLong, rng.nextInt(z.suppliers).toLong, ln,
          (1 + rng.nextInt(50)).toDouble, money(rng, 900, 105000), rng.nextInt(11) / 100.0,
          rng.nextInt(9) / 100.0, ReturnFlags(rng.nextInt(3)), LineStatuses(rng.nextInt(2)),
          od.plusDays(1L + rng.nextInt(240)))
      }
    }
    write(spark, dir, "lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      lines)
    val users = math.max(10, z.events / 66)
    var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
    val span = 30L * 86400L * 1000000L / z.events
    write(spark, dir, "events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (0 until z.events).map { i =>
        ts = ts.plusNanos((1L + rng.nextLong(2 * span)) * 1000L)
        Row(i.toLong, ts, rng.nextInt(users).toLong, EventTypes(rng.nextInt(5)),
          money(rng, 0.01, 490.02), s"""{"k": ${rng.nextInt(100)}}""")
      })
  }

  /** `documents` and `embeddings`. About 3% of documents copy an
    * earlier one exactly and about 5% copy one with one to three words
    * replaced. */
  def corpus(spark: SparkSession, dir: String, seed: Long, z: Sizes): Unit = {
    val rng = new SplittableRandom(seed ^ 0x5eedL)
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until z.docs).foreach { i =>
      val roll = rng.nextInt(100)
      val t =
        if (i > 0 && roll < 3) texts(rng.nextInt(i))
        else if (i > 0 && roll < 8) {
          val w = texts(rng.nextInt(i)).split(' ')
          (0 until 1 + rng.nextInt(3)).foreach(_ => w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.length)))
          w.mkString(" ")
        } else Array.fill(8 + rng.nextInt(93))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts += t
    }
    write(spark, dir, "documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Langs(rng.nextInt(Langs.length)), s"src${i % 20}", t.length.toLong) }.toSeq)
    val dim = 64
    val centroids = Array.fill(10, dim)(rng.nextDouble() * 2 - 1)
    write(spark, dir, "embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until z.vectors).map { i =>
        val label = rng.nextInt(10)
        val v = Array.tabulate(dim)(d => centroids(label)(d) + (rng.nextDouble() * 2 - 1) * 0.6)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
