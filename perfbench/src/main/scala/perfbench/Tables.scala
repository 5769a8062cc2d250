package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Generator of the star-schema + events + text + vector tables the
  * query keys read (`region nation customer supplier part orders
  * lineitem events documents embeddings`, one parquet file each).
  *
  * Shapes and value domains follow the engine's fixture tables: money
  * columns carry exactly two decimals, dates fall in 1995-2001, events
  * span January 2024, documents are 10-100 words over a 31-word
  * vocabulary with planted near-duplicates, embeddings are 64-d unit
  * vectors around ten labelled centroids.
  *
  * The data depends only on `seed` and `scale` (1.0 = the 0.01 scale
  * factor: 60k lineitem rows), so the golden output digests recorded
  * for one (seed, scale) stay valid on every run.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val vocab = Seq("part", "column", "order", "scan", "a", "slow",
    "agg", "key", "window", "table", "merge", "vector", "join", "query",
    "row", "stream", "the", "batch", "sort", "value", "hash", "filter",
    "big", "data", "spark", "line", "small", "fast", "group", "customer")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val colors = Seq("blue", "red", "green", "black", "white",
    "small", "large", "shiny")
  private val things = Seq("anvil", "widget", "ring", "bolt", "gear",
    "spring", "valve", "lever")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
  private val day = 86400000L

  private def cents(r: SplittableRandom, lo: Long, hi: Long): Double =
    (lo + r.nextLong(hi - lo + 1)) / 100.0
  private def date(r: SplittableRandom, fromMs: Long, days: Int): Timestamp =
    new Timestamp(fromMs + r.nextInt(days) * day)
  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  /** Writes every table as `<dir>/<name>.parquet` (one file each). */
  def write(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    def n(base: Int) = math.max(1, (base * scale).toInt)
    val nCust = n(1500); val nSupp = math.max(25, n(100)); val nPart = n(2000)
    val nOrd = n(15000); val nLine = n(60000); val nEvt = n(10000)
    val nDoc = n(500); val nVec = n(500)
    val t1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val t2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet.tmp")
      flatten(dir, name)
    }

    def rnd(table: Int) = new SplittableRandom(seed * 1000003L + table)

    save("region", StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (nm, i) => Row(i, nm) })

    save("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rnd(3)
    save("customer", StructType(Seq(StructField("c_custkey", LongType),
        StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        cents(rc, -99999, 999999), pick(rc, segments))))

    val rs = rnd(4)
    save("supplier", StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", i % 25,
        cents(rs, -99999, 999999))))

    val rp = rnd(5)
    val price = (0 until nPart).map(i => 900.0 + (i % 1000) / 10.0)
    save("part", StructType(Seq(StructField("p_partkey", LongType),
        StructField("p_name", StringType), StructField("p_brand", StringType),
        StructField("p_type", StringType), StructField("p_size", IntegerType),
        StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${pick(rp, colors)} ${pick(rp, things)}", s"Brand#${1 + rp.nextInt(25)}",
        pick(rp, partTypes), 1 + rp.nextInt(50), price(i))))

    val ro = rnd(6)
    save("orders", StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        pick(ro, Seq("F", "O", "P")), cents(ro, 100191, 49999318),
        date(ro, t1995, 2405), pick(ro, priorities))))

    val rl = rnd(7)
    val lineNo = new Array[Int](nOrd)
    save("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType))),
      (0 until nLine).map { _ =>
        val o = rl.nextInt(nOrd)
        lineNo(o) += 1
        val pk = rl.nextInt(nPart)
        val qty = 1 + rl.nextInt(50)
        Row(o.toLong, pk.toLong, rl.nextInt(nSupp).toLong, 1 + (lineNo(o) - 1) % 7,
          qty.toDouble, math.round(qty * price(pk) * 100) / 100.0,
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, pick(rl, Seq("A", "N", "R")),
          pick(rl, Seq("F", "O")), date(rl, t1995 + day, 2499))
      })

    val re = rnd(8)
    val span = 30 * day
    val tss = Array.fill(nEvt)(t2024 + re.nextLong(span)).sorted
    save("events", StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType))),
      (0 until nEvt).map { i =>
        val ts = new Timestamp(tss(i))
        ts.setNanos(ts.getNanos + re.nextInt(1000) * 1000)
        Row(i.toLong, ts, re.nextInt(math.max(1, nCust / 10)).toLong,
          pick(re, eventTypes), math.round(-50 * math.log(1 - re.nextDouble()) * 100) / 100.0,
          s"""{"k": ${re.nextInt(100)}}""")
      })

    val rd = rnd(9)
    val texts = new Array[String](nDoc)
    for (i <- 0 until nDoc) {
      texts(i) =
        if (i >= 10 && rd.nextInt(20) == 0) texts(rd.nextInt(i)) + " dup"
        else if (i >= 10 && rd.nextInt(100) == 0) texts(rd.nextInt(i))
        else Seq.fill(10 + rd.nextInt(91))(pick(rd, vocab)).mkString(" ")
    }
    save("documents", StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType))),
      (0 until nDoc).map(i => Row(i.toLong, texts(i), pick(rd, langs),
        s"src${i % 20}", texts(i).length.toLong)))

    val rv = rnd(10)
    val dim = 64
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    val centroids = Array.fill(10)(unit(Array.fill(dim)(rv.nextDouble() * 2 - 1)))
    save("embeddings", StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      (0 until nVec).map { i =>
        val label = rv.nextInt(10)
        val v = unit(centroids(label).map(c => c + (rv.nextDouble() * 2 - 1) * 0.35))
        Row(i.toLong, v.map(_.toFloat).toSeq, label)
      })
  }

  /** Moves the single part file of `<name>.parquet.tmp` to `<name>.parquet`. */
  private def flatten(dir: String, name: String): Unit = {
    val tmp = new java.io.File(s"$dir/$name.parquet.tmp")
    val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).head
    val dest = new java.io.File(s"$dir/$name.parquet")
    dest.delete()
    require(part.renameTo(dest), s"cannot move $part to $dest")
    tmp.listFiles().foreach(_.delete())
    tmp.delete()
  }
}
