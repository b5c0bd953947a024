package perfbench

import java.io.File
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** Deterministic synthetic copy of the engine's fixture tables.
  *
  * Same table names, schemas and value distributions as the TPC-H-ish
  * star schema plus the `events`, `documents` and `embeddings` extension
  * tables the queries read (see FIXTURES.md). Row counts scale with `sf`
  * the way the fixtures do. The content depends only on `sf`: the run seed
  * never changes the tables, so the expected query digests stay valid.
  *
  * Each table is written as ONE parquet file with one row group at
  * `<dir>/<name>.parquet`, like the fixtures, so DuckDB can read the
  * generated directory too (the expected digests are produced by an
  * oracle-checked `graft.Verify` dump over exactly these files).
  */
object DataGen {
  val DataSeed = 42L

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partAdj = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val partNoun = Array("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
  private val partTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en" -> 0.41, "de" -> 0.14, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  final case class Sizes(customer: Int, supplier: Int, part: Int, orders: Int,
      lineitem: Int, events: Int, users: Int, documents: Int, embeddings: Int)

  def sizes(sf: Double): Sizes = {
    def n(base: Double, floor: Int = 1) = math.max(floor, math.round(base * sf).toInt)
    Sizes(customer = n(150000), supplier = n(10000), part = n(200000),
      orders = n(1500000), lineitem = n(6000000), events = n(1000000),
      users = n(15000), documents = n(50000, 500), embeddings = n(20000, 500))
  }

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  private def date(rnd: java.util.Random, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(rnd.nextInt(days).toLong)

  /** Writes every table under `dir`; returns the per-table row counts. */
  def write(dir: String, sf: Double): Map[String, Int] = {
    val sz = sizes(sf)
    new File(dir).mkdirs()
    val tables = Seq(
      "region" -> region, "nation" -> nation,
      "customer" -> customer(sz), "supplier" -> supplier(sz), "part" -> part(sz),
      "orders" -> orders(sz), "lineitem" -> lineitem(sz), "events" -> events(sz),
      "documents" -> documents(sz), "embeddings" -> embeddings(sz))
    tables.map { case (name, (cols, rows)) =>
      writeOne(new File(dir, s"$name.parquet"), cols, rows)
      name -> rows.length
    }.toMap
  }

  /** Column kinds and their parquet types (Spark reads `ts` as
    * TIMESTAMP_NTZ, like the fixtures' timestamps). */
  private def parquetType(name: String, kind: String): String = kind match {
    case "int" => s"optional int32 $name;"
    case "long" => s"optional int64 $name;"
    case "double" => s"optional double $name;"
    case "string" => s"optional binary $name (STRING);"
    case "ts" => s"optional int64 $name (TIMESTAMP(MICROS,false));"
    case "floats" => s"optional group $name (LIST) { repeated group list { optional float element; } }"
  }

  /** One parquet file, one row group, written directly (no Spark job). */
  private def writeOne(target: File, cols: Seq[(String, String)], rows: IndexedSeq[Seq[Any]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      cols.map { case (n, k) => parquetType(n, k) }.mkString("message spark_schema {", " ", "}"))
    val writer = ExampleParquetWriter.builder(new HPath(target.getAbsolutePath))
      .withType(schema).withConf(new Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(256L << 20).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { row =>
      val g = groups.newGroup()
      cols.zip(row).foreach {
        case ((n, "int"), v: Int) => g.append(n, v)
        case ((n, "long"), v: Long) => g.append(n, v)
        case ((n, "double"), v: Double) => g.append(n, v)
        case ((n, "string"), v: String) => g.append(n, v)
        case ((n, "ts"), v: LocalDateTime) =>
          g.append(n, v.toEpochSecond(ZoneOffset.UTC) * 1000000L + v.getNano / 1000)
        case ((n, "floats"), v: Seq[_]) =>
          val list = g.addGroup(n)
          v.foreach(x => list.addGroup("list").append("element", x.asInstanceOf[Float]))
        case ((n, k), v) => sys.error(s"$n: cannot write $v as $k")
      }
      writer.write(g)
    } finally writer.close()
  }

  private type Table = (Seq[(String, String)], IndexedSeq[Seq[Any]])

  private def region: Table =
    (Seq("r_regionkey" -> "int", "r_name" -> "string"),
      Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Seq(i, n) }.toIndexedSeq)

  private def nation: Table =
    (Seq("n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"),
      (0 until 25).map(i => Seq(i, s"NATION_$i", i % 5)))

  private def customer(sz: Sizes): Table = {
    val rnd = new java.util.Random(DataSeed + 1)
    (Seq("c_custkey" -> "long", "c_name" -> "string", "c_nationkey" -> "int",
      "c_acctbal" -> "double", "c_mktsegment" -> "string"),
      (0 until sz.customer).map { i =>
        Seq(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
          r2(-999.99 + rnd.nextDouble() * 10999.98), segments(rnd.nextInt(segments.length)))
      })
  }

  private def supplier(sz: Sizes): Table = {
    val rnd = new java.util.Random(DataSeed + 2)
    (Seq("s_suppkey" -> "long", "s_name" -> "string", "s_nationkey" -> "int",
      "s_acctbal" -> "double"),
      (0 until sz.supplier).map { i =>
        Seq(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), r2(-999.99 + rnd.nextDouble() * 10999.98))
      })
  }

  private def part(sz: Sizes): Table = {
    val rnd = new java.util.Random(DataSeed + 3)
    (Seq("p_partkey" -> "long", "p_name" -> "string", "p_brand" -> "string",
      "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double"),
      (0 until sz.part).map { i =>
        Seq(i.toLong, s"${partAdj(rnd.nextInt(8))} ${partNoun(rnd.nextInt(8))}",
          s"Brand#${1 + rnd.nextInt(25)}", partTypes(rnd.nextInt(partTypes.length)),
          1 + rnd.nextInt(50), (9000 + i % 1000) / 10.0)
      })
  }

  private val epoch95 = LocalDateTime.of(1995, 1, 1, 0, 0)

  private def orders(sz: Sizes): Table = {
    val rnd = new java.util.Random(DataSeed + 4)
    (Seq("o_orderkey" -> "long", "o_custkey" -> "long", "o_orderstatus" -> "string",
      "o_totalprice" -> "double", "o_orderdate" -> "ts",
      "o_orderpriority" -> "string"),
      (0 until sz.orders).map { i =>
        Seq(i.toLong, rnd.nextInt(sz.customer).toLong, statuses(rnd.nextInt(3)),
          r2(1000.0 + rnd.nextDouble() * 499000.0), date(rnd, epoch95, 2404),
          priorities(rnd.nextInt(priorities.length)))
      })
  }

  private def lineitem(sz: Sizes): Table = {
    val rnd = new java.util.Random(DataSeed + 5)
    val flags = Array("A", "N", "R")
    val lstat = Array("F", "O")
    (Seq("l_orderkey" -> "long", "l_partkey" -> "long", "l_suppkey" -> "long",
      "l_linenumber" -> "int", "l_quantity" -> "double",
      "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "ts"),
      (0 until sz.lineitem).map { _ =>
        Seq(rnd.nextInt(sz.orders).toLong, rnd.nextInt(sz.part).toLong,
          rnd.nextInt(sz.supplier).toLong, 1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble,
          r2(900.0 + rnd.nextDouble() * 104100.0), rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, flags(rnd.nextInt(3)), lstat(rnd.nextInt(2)),
          date(rnd, epoch95.plusDays(1), 2499))
      })
  }

  private def events(sz: Sizes): Table = {
    val rnd = new java.util.Random(DataSeed + 6)
    val start = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 86400L * 1000000L
    val offsets = Array.fill(sz.events)((rnd.nextDouble() * spanMicros).toLong).sorted
    (Seq("event_id" -> "long", "ts" -> "ts", "user_id" -> "long",
      "event_type" -> "string", "value" -> "double", "props" -> "string"),
      (0 until sz.events).map { i =>
        Seq(i.toLong, start.plusNanos(offsets(i) * 1000L), rnd.nextInt(sz.users).toLong,
          eventTypes(rnd.nextInt(eventTypes.length)),
          r2(-math.log(1.0 - rnd.nextDouble()) * 25.0), s"""{"k": ${rnd.nextInt(100)}}""")
      })
  }

  private def documents(sz: Sizes): Table = {
    val rnd = new java.util.Random(DataSeed + 7)
    val cum = langs.scanLeft(0.0)(_ + _._2).tail
    def lang(): String = {
      val u = rnd.nextDouble() * cum.last
      langs(cum.indexWhere(u < _))._1
    }
    val texts = new Array[String](sz.documents)
    (Seq("doc_id" -> "long", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "long"),
      (0 until sz.documents).map { i =>
        // ~5% near-duplicates: an earlier document's text plus a marker word
        val t =
          if (i > 10 && rnd.nextDouble() < 0.05) texts(rnd.nextInt(i)) + " dup"
          else Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
        texts(i) = t
        Seq(i.toLong, t, lang(), s"src${i % 20}", t.length.toLong)
      })
  }

  private def embeddings(sz: Sizes): Table = {
    val rnd = new java.util.Random(DataSeed + 8)
    (Seq("vec_id" -> "long", "embedding" -> "floats",
      "label" -> "int"),
      (0 until sz.embeddings).map { i =>
        val g = Array.fill(64)(rnd.nextGaussian())
        val norm = math.sqrt(g.map(x => x * x).sum)
        Seq(i.toLong, g.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
      })
  }
}
