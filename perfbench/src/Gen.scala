package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.CRC32

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded Clojush log generator. Every log has the same shape — a header of
  * [[Params]] `k = v` lines (the `Clojush version` line included), `gens`
  * generation reports of [[Metrics]] `metric-i: v` lines each, and one
  * summary line — so row counts depend on the file counts alone and the
  * seed moves only the values. The loader's expected output is accumulated
  * while writing: row counts per table plus an order-independent checksum
  * (sum of CRC-32 of `|`-joined row fields) of `summary` and `generations`.
  */
object LogGen {
  val Params = 20
  val Metrics = 10
  val SmallGens = 21

  /** What a load of the written logs must produce. */
  final case class Expect(
      files: Long = 0, experiment: Long = 0, generations: Long = 0,
      summary: Long = 0, summaryCrc: Long = 0, generationsCrc: Long = 0,
      bytes: Long = 0) {
    def +(o: Expect): Expect = Expect(files + o.files,
      experiment + o.experiment, generations + o.generations,
      summary + o.summary, summaryCrc + o.summaryCrc,
      generationsCrc + o.generationsCrc, bytes + o.bytes)
  }

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  /** Writes one log of `gens` generations to `file`; `id` is the id the
    * loader will mint for it, which the checksums include. */
  def write(file: Path, rnd: SplittableRandom, gens: Int, id: Long): Expect = {
    val sb = new java.lang.StringBuilder(gens * Metrics * 24 + 1024)
    val delim = ";;;;;;;;;;;;;;;;;;;;\n"
    sb.append("Clojush version = 2.").append(rnd.nextInt(40)).append('.')
      .append(rnd.nextInt(10)).append('\n')
    (1 until Params).foreach { i =>
      sb.append("param-").append(i).append(" = ").append(rnd.nextInt(10000))
        .append('\n')
    }
    var genCrc = 0L
    (0 until gens).foreach { g =>
      sb.append(delim).append("-*- Report at generation ").append(g).append('\n')
      (1 to Metrics).foreach { m =>
        val v = s"${rnd.nextInt(100000)}.${rnd.nextInt(1000)}"
        sb.append("metric-").append(m).append(": ").append(v).append('\n')
        genCrc += crc(s"$id|$g|metric-$m|$v")
      }
    }
    val success = rnd.nextInt(3) == 0
    val maxgen = gens - 1
    sb.append(delim)
      .append(if (success) "SUCCESS" else "FAILURE")
      .append(" at generation ").append(maxgen).append('\n')
    val bytes = sb.toString.getBytes(UTF_8)
    Files.write(file, bytes)
    Expect(1, Params, gens.toLong * Metrics, 1,
      crc(s"$id|$success|$maxgen"), genCrc, bytes.length.toLong)
  }

  /** The log_load corpus: `<root>/long/run_long.log` (`longGens`
    * generations) and `<root>/many/run_NNNNN.log` (`small` files of
    * [[SmallGens]] generations). `LogPipeline.load` mints ids in path
    * order, so the long log is id 1 and small file i is id i + 2. */
  def corpus(root: Path, seed: Long, small: Int, longGens: Int): Expect = {
    val rnd = new SplittableRandom(seed)
    Files.createDirectories(root.resolve("long"))
    Files.createDirectories(root.resolve("many"))
    val long = write(root.resolve("long/run_long.log"), rnd.split(), longGens, 1L)
    (0 until small).foldLeft(long) { (acc, i) =>
      acc + write(root.resolve(f"many/run_$i%05d.log"), rnd.split(),
        SmallGens, i + 2L)
    }
  }
}

/** Deterministic star-schema generator with the table shapes and value
  * distributions of the sf0.1 test corpus the query modules are verified on
  * (`graft.Tables`; the comparison is in perfbench/NOTES.md): one parquet
  * file per table in a single row group, timestamps as
  * `TIMESTAMP(MICROS, isAdjustedToUTC = false)`, written with parquet's own
  * writer so no Spark session is needed. `rows` is the lineitem count; the
  * other tables keep sf0.1's ratios to it (embeddings at least 500, as in
  * the corpus). Every value comes from a random stream seeded by [[Seed]]
  * and the table, so the pinned per-query result hashes hold for every
  * benchmark seed; `--seed` only orders the queries.
  */
object StarGen {
  val Seed = 20261017L

  private val Day = 86400L * 1000000L
  private def micros(date: String): Long =
    java.time.LocalDate.parse(date).toEpochDay * Day

  private def rnd(salt: Int) = new SplittableRandom(Seed * 1009 + salt)

  /** Writes `n` rows of `schema` (parquet schema text) to `file`. */
  private def table(file: Path, schema: String, n: Long, salt: Int)(
      row: (Group, Long, SplittableRandom) => Unit): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val f = new SimpleGroupFactory(t)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file)).withType(t)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(256L << 20).build()
    val r = rnd(salt)
    try (0L until n).foreach { id =>
      val g = f.newGroup()
      row(g, id, r)
      w.write(g)
    } finally w.close()
  }

  /** The 30-word vocabulary of the corpus's documents. */
  val Vocab: Vector[String] = Vector("spark", "scan", "sort", "hash", "join",
    "group", "agg", "filter", "window", "stream", "batch", "table", "row",
    "column", "vector", "query", "key", "value", "order", "line", "part",
    "customer", "data", "merge", "fast", "slow", "big", "small", "the", "a")

  /** Document texts: 10–99 uniform tokens; 5% are a near-duplicate (the
    * text of a random document, taken after its own edit when it comes
    * earlier, plus the token `dup`) and 0.16% an exact copy of one. */
  def texts(n: Int): Array[String] = {
    val r = rnd(10)
    val base = Array.fill(n)(
      Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" "))
    val out = new Array[String](n)
    (0 until n).foreach { i =>
      val u = r.nextInt(10000)
      val j = r.nextInt(n)
      val src = if (j < i) out(j) else base(j)
      out(i) = if (u < 500) src + " dup" else if (u < 516 && j != i) src else base(i)
    }
    out
  }

  def write(dir: Path, rows: Long): Unit = {
    Files.createDirectories(dir)
    def at(name: String) = dir.resolve(s"$name.parquet")
    val orders = rows / 4
    val customers = rows / 40
    val parts = rows / 30
    val suppliers = math.max(10L, rows / 600)
    val events = rows / 6
    val users = math.max(10L, events * 3 / 200)
    val docs = math.max(10L, rows / 120)
    val vecs = math.max(500L, rows / 300)
    def oneOf(r: SplittableRandom, xs: String*): String = xs(r.nextInt(xs.length))
    def money(r: SplittableRandom, lo: Double, span: Double): Double =
      math.round((lo + r.nextDouble() * span) * 100) / 100.0
    val str = "optional binary %s (STRING);"
    val ts = "optional int64 %s (TIMESTAMP(MICROS,false));"

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    table(at("region"), "message region { optional int32 r_regionkey; " +
      str.format("r_name") + " }", 5, 0) { (g, id, _) =>
      g.append("r_regionkey", id.toInt).append("r_name", regions(id.toInt))
    }
    table(at("nation"), "message nation { optional int32 n_nationkey; " +
      str.format("n_name") + " optional int32 n_regionkey; }", 25, 1) { (g, id, _) =>
      g.append("n_nationkey", id.toInt).append("n_name", s"NATION_$id")
        .append("n_regionkey", (id % 5).toInt)
    }
    table(at("customer"), "message customer { optional int64 c_custkey; " +
      str.format("c_name") + " optional int32 c_nationkey; " +
      "optional double c_acctbal; " + str.format("c_mktsegment") + " }",
      customers, 2) { (g, id, r) =>
      g.append("c_custkey", id).append("c_name", f"Customer#$id%09d")
        .append("c_nationkey", r.nextInt(25))
        .append("c_acctbal", money(r, -999.99, 10999.98))
        .append("c_mktsegment", oneOf(r, "MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
          "BUILDING", "FURNITURE"))
    }
    table(at("supplier"), "message supplier { optional int64 s_suppkey; " +
      str.format("s_name") + " optional int32 s_nationkey; optional double s_acctbal; }",
      suppliers, 3) { (g, id, r) =>
      g.append("s_suppkey", id).append("s_name", f"Supplier#$id%09d")
        .append("s_nationkey", r.nextInt(25))
        .append("s_acctbal", money(r, -999.99, 10999.98))
    }
    table(at("part"), "message part { optional int64 p_partkey; " +
      str.format("p_name") + str.format("p_brand") + str.format("p_type") +
      " optional int32 p_size; optional double p_retailprice; }", parts, 4) { (g, id, r) =>
      g.append("p_partkey", id)
        .append("p_name", oneOf(r, "blue", "old", "small", "new", "large", "hot",
          "cold", "red") + " " + oneOf(r, "widget", "gizmo", "ring", "gear", "bolt",
          "plate", "rod", "anvil"))
        .append("p_brand", s"Brand#${1 + r.nextInt(25)}")
        .append("p_type", oneOf(r, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
          "STANDARD"))
        .append("p_size", 1 + r.nextInt(50))
        .append("p_retailprice", (9000 + id % 1000) / 10.0)
    }
    table(at("orders"), "message orders { optional int64 o_orderkey; " +
      "optional int64 o_custkey; " + str.format("o_orderstatus") +
      " optional double o_totalprice; " + ts.format("o_orderdate") +
      str.format("o_orderpriority") + " }", orders, 5) { (g, id, r) =>
      g.append("o_orderkey", id).append("o_custkey", r.nextLong(customers))
        .append("o_orderstatus", oneOf(r, "F", "O", "P"))
        .append("o_totalprice", money(r, 1000, 499000))
        .append("o_orderdate", micros("1995-01-01") + r.nextInt(2405) * Day)
        .append("o_orderpriority", oneOf(r, "1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
    }
    // orders, lines per order, ship dates, flags and statuses are drawn
    // independently, as in the corpus (about 2% of orders have no line)
    table(at("lineitem"), "message lineitem { optional int64 l_orderkey; " +
      "optional int64 l_partkey; optional int64 l_suppkey; " +
      "optional int32 l_linenumber; optional double l_quantity; " +
      "optional double l_extendedprice; optional double l_discount; " +
      "optional double l_tax; " + str.format("l_returnflag") +
      str.format("l_linestatus") + ts.format("l_shipdate") + " }", rows, 6) { (g, _, r) =>
      g.append("l_orderkey", r.nextLong(orders)).append("l_partkey", r.nextLong(parts))
        .append("l_suppkey", r.nextLong(suppliers))
        .append("l_linenumber", 1 + r.nextInt(7))
        .append("l_quantity", (1 + r.nextInt(50)).toDouble)
        .append("l_extendedprice", money(r, 900, 104100))
        .append("l_discount", r.nextInt(11) / 100.0)
        .append("l_tax", r.nextInt(9) / 100.0)
        .append("l_returnflag", oneOf(r, "A", "N", "R"))
        .append("l_linestatus", oneOf(r, "F", "O"))
        .append("l_shipdate", micros("1995-01-02") + r.nextInt(2499) * Day)
    }
    // uniform over 30 days, numbered in time order; values exponential
    // with mean 50
    val stamps = {
      val r = rnd(11)
      Array.fill(events.toInt)(micros("2024-01-01") + r.nextLong(30 * Day)).sorted
    }
    table(at("events"), "message events { optional int64 event_id; " +
      ts.format("ts") + " optional int64 user_id; " + str.format("event_type") +
      " optional double value; " + str.format("props") + " }", events, 7) { (g, id, r) =>
      g.append("event_id", id)
        .append("ts", stamps(id.toInt))
        .append("user_id", r.nextLong(users))
        .append("event_type", oneOf(r, "signup", "click", "error", "view", "purchase"))
        .append("value", math.round(-50 * math.log(1 - r.nextDouble()) * 100) / 100.0)
        .append("props", s"""{"k": ${r.nextInt(100)}}""")
    }
    val text = texts(docs.toInt)
    table(at("documents"), "message documents { optional int64 doc_id; " +
      str.format("text") + str.format("lang") + str.format("source") +
      " optional int64 n_chars; }", docs, 8) { (g, id, r) =>
      val t = text(id.toInt)
      val u = r.nextInt(10000)
      g.append("doc_id", id).append("text", t)
        .append("lang", if (u < 4100) "en" else Seq("de", "es", "fr", "zh")((u - 4100) % 4))
        .append("source", s"src${r.nextInt(20)}")
        .append("n_chars", t.length.toLong)
    }
    // random unit vectors with a label drawn independently of them
    table(at("embeddings"), "message embeddings { optional int64 vec_id; " +
      "optional group embedding (LIST) { repeated group list { " +
      "optional float element; } } optional int32 label; }", vecs, 9) { (g, id, r) =>
      val v = Array.fill(64)(gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      val e = g.append("vec_id", id).addGroup("embedding")
      v.foreach(x => e.addGroup("list").append("element", (x / norm).toFloat))
      g.append("label", r.nextInt(10))
    }
  }

  /** A standard normal draw (Box–Muller). */
  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
}

/** Writes the generated star schema to a directory, to compare it with a
  * corpus (perfbench/star_stats.py):
  * `java -cp "$(python3 perfbench/build.py)" perfbench.WriteStar <dir> [rows]`. */
object WriteStar {
  def main(args: Array[String]): Unit =
    StarGen.write(java.nio.file.Paths.get(args(0)),
      args.lift(1).fold(StarQueries.Rows)(_.toLong))
}
