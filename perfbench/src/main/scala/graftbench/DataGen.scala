package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic tables with the schema and value ranges of the
  * engine's star-schema test tables: region, nation, customer, supplier,
  * part, orders, lineitem, events, documents and embeddings, one parquet
  * file each (`<dir>/<table>.parquet`, the layout `graft.api.Tables`
  * reads).
  *
  * The tables are fixed: a constant seed drives every value, so the
  * committed expected row counts hold for every run. The workload seed
  * only orders queries and drives the live stream.
  */
object DataGen {
  /** Bumped whenever the generator changes, so a cached copy is rebuilt. */
  val Version = "v5"
  private val TableSeed = 42L

  // the row counts of the engine's sf0.1 test tables: the engine picks
  // code paths by input size (local vs distributed closure, band plans,
  // broadcast caps), so the workload runs at the scale the catalog's
  // recorded results were taken at
  private val Customers = 15000
  private val Suppliers = 1000
  private val Parts = 20000
  private val Orders = 150000
  private val Events = 100000
  private val Users = 1500
  private val Documents = 5000
  private val Embeddings = 2000

  private val Vocab: Array[String] = ("a the data spark stream batch table query join group agg " +
    "filter sort merge hash scan window row column key value order line part customer " +
    "vector fast slow big small").split(" ")

  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Array("blue", "cold", "hot", "large", "old", "red", "small", "soft")
  private val Nouns = Array("bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve")
  val EventTypes: Array[String] = Array("click", "error", "purchase", "signup", "view")
  private val OrderStatus = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("F", "O")
  private val Langs = Array("en", "en", "en", "en", "de", "es", "fr", "zh", "en", "de", "es", "fr", "zh")

  private val Day = 86400000L
  private val T1995 = java.time.Instant.parse("1995-01-01T00:00:00Z").toEpochMilli
  private val T2024 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Generates the tables into `dir` unless a complete copy of this
    * generator version is already there. Returns the seconds spent. */
  def ensure(spark: SparkSession, dir: Path): Double = {
    val marker = dir.resolve(s"_complete_$Version")
    if (Files.exists(marker)) return 0.0
    val t0 = System.nanoTime()
    Files.createDirectories(dir)
    val tables = build()
    tables.foreach { case (name, schema, rows) => write(spark, dir, name, schema, rows) }
    Files.write(marker, Array.emptyByteArray)
    (System.nanoTime() - t0) / 1e9
  }

  private def write(spark: SparkSession, dir: Path, name: String, schema: StructType,
                    rows: Seq[Row]): Unit = {
    val tmp = dir.resolve(s"_tmp_$name")
    // a local relation: its rows reach the write task as compact unsafe rows
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  private def build(): Seq[(String, StructType, Seq[Row])] = {
    val r = new SplittableRandom(TableSeed)
    val region = Regions.indices.map(i => Row(i, Regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d",
      r.nextInt(25), money(r, -999.99, 9999.99), Segments(r.nextInt(Segments.length))))
    val supplier = (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
      r.nextInt(25), money(r, -999.99, 9999.99)))
    val part = (0 until Parts).map(i => Row(i.toLong,
      s"${Adjectives(r.nextInt(Adjectives.length))} ${Nouns(r.nextInt(Nouns.length))}",
      s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)),
      1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val orderSpan = (java.time.Instant.parse("2001-08-01T00:00:00Z").toEpochMilli - T1995) / Day
    val orders = (0 until Orders).map { i =>
      val status = OrderStatus(r.nextInt(3))
      // pending orders stay below the top price band, so the ANY/ALL key
      // has rows above every pending order
      Row(i.toLong, r.nextInt(Customers).toLong, status,
        money(r, 1000.0, if (status == "P") 450000.0 else 500000.0),
        new Timestamp(T1995 + r.nextLong(orderSpan + 1) * Day), Priorities(r.nextInt(5)))
    }
    val lineitem = orders.flatMap { o =>
      val ok = o.getLong(0)
      val od = o.getAs[Timestamp](4).getTime
      (1 to 1 + r.nextInt(7)).map { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        Row(ok, r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong, ln, qty,
          money(r, 900.0, 100000.0), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          ReturnFlags(r.nextInt(3)), LineStatus(r.nextInt(2)),
          new Timestamp(od + (1 + r.nextInt(121)) * Day))
      }
    }.take(4 * Orders)
    val eventSpan = 30 * Day
    val eventTimes = Array.fill(Events)(T2024 + r.nextLong(eventSpan)).sorted
    val events = eventTimes.indices.map(i => Row(i.toLong,
      new Timestamp(eventTimes(i)), r.nextInt(Users).toLong,
      EventTypes(r.nextInt(EventTypes.length)), money(r, 0.0, 500.0),
      s"""{"k": ${r.nextInt(100)}}"""))
    val texts = new Array[String](Documents)
    for (i <- 0 until Documents) {
      texts(i) =
        if (i >= 20 && r.nextInt(100) < 2) texts(r.nextInt(i)) // exact duplicate
        else if (i >= 20 && r.nextInt(100) < 6) { // near duplicate: one word changed
          val w = texts(r.nextInt(i)).split(" ")
          if (w.length >= 40) w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
          w.mkString(" ")
        } else Array.fill(8 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    val documents = texts.indices.map(i => Row(i.toLong, texts(i),
      Langs(r.nextInt(Langs.length)), s"src${i % 20}", texts(i).length.toLong))
    val embeddings = (0 until Embeddings).map { i =>
      val v = Array.fill(64)(r.nextDouble() * 2 - 1 + (r.nextDouble() * 2 - 1))
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, r.nextInt(10))
    }
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    Seq(
      ("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      ("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), customer),
      ("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType), supplier),
      ("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType), part),
      ("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
        "o_orderpriority" -> StringType), orders),
      ("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampType), lineitem),
      ("events", st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      ("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), documents),
      ("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
        "label" -> IntegerType), embeddings))
  }
}
