package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import graft.BenchProtocol
import graft.parse.LogPipeline
import graft.sinks.{CsvSink, JdbcSink}
import graft.streaming.IngestStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every per-layer metric the traced run prints, with its unit. A workload
  * that does not touch a layer reports 0 for it. */
object Layers {
  val counters: Seq[(String, String)] = Seq("jobs" -> "count", "task_s" -> "s",
    "deser_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB")
  val all: Seq[(String, String)] =
    Seq("load_s" -> "s", "load_query_s" -> "s",
      "ingest_round_s_p50" -> "s", "ingest_round_s_p75" -> "s",
      "star_total_s" -> "s",
      "parse.plan_s" -> "s", "parse.exec_s" -> "s") ++
    counters.map { case (k, u) => s"parse.$k" -> u } ++
    counters.map { case (k, u) => s"ingest.$k" -> u } ++
    Seq("sinks.csv_write_s" -> "s", "sinks.csv_write_generations_s" -> "s",
      "sinks.bytes_per_input_byte" -> "ratio", "sinks.csv_read_s" -> "s",
      "sinks.jdbc_upsert_s" -> "s", "sinks.csv_append_s" -> "s",
      "streaming.start_s" -> "s", "streaming.latest_offset_ms" -> "ms",
      "streaming.add_batch_ms" -> "ms", "streaming.commit_ms" -> "ms",
      "streaming.batches_per_round" -> "count",
      "streaming.empty_batch_ratio" -> "ratio") ++
    StarQueries.names.map(n => s"queries.${n}_s" -> "s") ++
    Seq("queries.plan_s" -> "s") ++
    (counters :+ ("spill_mb" -> "MB")).map { case (k, u) => s"queries.$k" -> u }

  /** Median over `spans` of `f`. */
  def med(spans: Seq[Span])(f: Span => Double): Double = Stats.median(spans.map(f))
}

/** The reference's two jobs. A pass is a batch load —
  * `LogPipeline.load` of a folder into the four tables, `CsvSink.append`
  * of each, then a read-back with `CsvSink.read` and two queries — followed
  * by an ingest session: [[Rounds]] rounds, each landing [[PerRound]] new
  * logs by atomic rename into one watched folder and draining them with
  * `IngestStream.run(availableNow)` on the same checkpoint, upserting
  * `summary` and `experiments` into an embedded in-memory Derby keyed on
  * `id` (`JdbcSink.upsert`) and appending `generations` and `experiment` as
  * CSV. Each session starts from an empty folder, checkpoint and database,
  * so round k always sees k × [[PerRound]] files.
  *
  * The batch corpus: `many/` holds [[Small]] small logs (listing, id
  * minting and the per-file wholetext parse) and `long/` one
  * [[LongGens]]-generation log above [[BigBytes]], so the chunked parser
  * (BigLogParse) runs too. */
final class LogLoadIngest(c: Main.Conf) extends Workload(c) {
  val Small = 40
  val LongGens = 2000
  val BigBytes = 256L << 10
  val Rounds = 3
  val PerRound = 10
  /** The set-up cycles run the load step three times already. */
  val warmUpPasses = 2
  private val loadCfg = LogPipeline.LoadConfig(bigFileBytes = BigBytes)
  private val ingestCfg = LogPipeline.LoadConfig()
  private var expect = LogGen.Expect()
  private var outBytes = 0L
  private var session = 0
  private val startS = collection.mutable.ArrayBuffer.empty[Double]
  private val rounds = collection.mutable.ArrayBuffer.empty[(Span, String)]

  /** The batch corpus, and the pool every ingest session links its files
    * from. */
  def prepare(): Unit = {
    expect = LogGen.corpus(tmp("logs"), conf.seed, Small, LongGens)
    val rnd = new java.util.SplittableRandom(conf.seed + 1)
    Files.createDirectories(tmp("pool"))
    (0 until Rounds * PerRound).foreach { i =>
      LogGen.write(tmp(f"pool/run_$i%05d.log"), rnd.split(), LogGen.SmallGens, 0L)
    }
  }

  /** load → four CSV appends; returns the seconds taken. */
  private def load(spark: SparkSession, tr: Tracer, out: Path): Double = timed {
    val tables = tr.span("parse.load")(
      LogPipeline.load(spark, tmp("logs").toString + "/*/*.log", loadCfg))
    Seq("experiments" -> tables.experiments, "experiment" -> tables.experiment,
      "generations" -> tables.generations, "summary" -> tables.summary)
      .foreach { case (name, df) =>
        tr.span(s"sinks.csv_write.$name")(CsvSink.append(df, out.resolve(name).toString))
      }
    tr.span("parse.release")(tables.release())
  }

  /** Read-back and two queries; returns the seconds taken. */
  private def query(spark: SparkSession, tr: Tracer, out: Path): Double = timed {
    def read(t: String, s: StructType) = CsvSink.read(spark, out.resolve(t).toString, s)
    val exps = read("experiments", LogLoad.experimentsSchema)
    val sum = read("summary", LogLoad.summarySchema)
    val gens = read("generations", LogLoad.generationsSchema)
    tr.span("query.success_rate")(BenchProtocol.force(
      exps.join(sum, "id").groupBy("problem_name")
        .agg(avg(col("successp").cast("double")).as("success_rate"))))
    tr.span("query.min_metric")(BenchProtocol.force(
      gens.filter(col("parameter") === "metric-1").groupBy("gennum")
        .agg(min(col("value").cast("double")).as("best"))))
  }

  private def ddl(url: String): Unit = {
    val conn = DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE summary (id BIGINT PRIMARY KEY, successp BOOLEAN, maxgen INT)")
      st.execute("CREATE TABLE experiments (id BIGINT PRIMARY KEY, " +
        "user_name VARCHAR(64), rundate VARCHAR(32), problem_name VARCHAR(256), " +
        "problem_id BIGINT, clojush_version VARCHAR(64), " +
        "logfile_location VARCHAR(1024), csv_write_time VARCHAR(32))")
    } finally conn.close()
  }

  private def dropDb(url: String): Unit =
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals a drop by throwing

  /** One session of `n` rounds of `perRound` files; `after` gets the Derby
    * url and the CSV directory before they are dropped. Returns the round
    * times. */
  private[perfbench] def runSession(spark: SparkSession, tr: Tracer, n: Int,
      perRound: Int)(after: (String, Path) => Unit): Seq[Double] = {
    session += 1
    val dir = tmp(s"ingest-$session")
    val watch = dir.resolve("watch")
    val staging = dir.resolve("staging")
    Files.createDirectories(watch)
    Files.createDirectories(staging)
    val url = s"jdbc:derby:memory:perfbench$session"
    ddl(url)
    val csv = dir.resolve("csv")
    val sink: (LogPipeline.LoadedTables, Long) => Unit = (t, _) => {
      tr.span("sinks.jdbc_upsert") {
        JdbcSink.upsert(t.summary, url, "summary", Seq("id"))
        JdbcSink.upsert(t.experiments.withColumnRenamed("user", "user_name"),
          url, "experiments", Seq("id"))
      }
      tr.span("sinks.csv_append") {
        CsvSink.append(t.generations, csv.resolve("generations").toString)
        CsvSink.append(t.experiment, csv.resolve("experiment").toString)
      }
    }
    try {
      val times = (0 until n).map { r =>
        val files = (r * perRound until (r + 1) * perRound).map(i => f"run_$i%05d.log")
        files.foreach(f => Files.createLink(staging.resolve(f), tmp(s"pool/$f")))
        files.foreach(f => Files.move(staging.resolve(f), watch.resolve(f),
          StandardCopyOption.ATOMIC_MOVE))
        val t0 = System.nanoTime()
        var runId = ""
        tr.span("op.round", claimJobs = true) {
          val q = tr.span("streaming.start", claimJobs = false) {
            val s0 = System.nanoTime()
            val q = IngestStream.run(spark, watch.toString,
              dir.resolve("checkpoint").toString, ingestCfg)(sink)
            if (tr.on) startS += (System.nanoTime() - s0) / 1e9
            q
          }
          runId = q.runId.toString
          tr.span("streaming.await", claimJobs = false)(q.awaitTermination())
          q.exception.foreach(e => throw e)
        }
        if (tr.on) rounds += ((tr.all.filter(_.name == "op.round").last, runId))
        (System.nanoTime() - t0) / 1e9
      }
      after(url, csv)
      times
    } finally { dropDb(url); LogLoad.delete(dir) }
  }

  /** The load step: what the `LoadLogs` CLI does on every run. */
  def coldStep(spark: SparkSession): Unit = {
    val out = tmp("out")
    try load(spark, new Tracer(spark, "setup"), out) finally LogLoad.delete(out)
  }

  def pass(spark: SparkSession, tr: Tracer, timed: Boolean): Unit = {
    val out = tmp("out")
    try {
      step(timed, "load", tr) {
        val l = tr.span("op.load")(load(spark, tr, out))
        if (timed) outBytes = LogLoad.dataBytes(out)
        l
      }
      step(timed, "load_query", tr)(tr.span("op.load_query")(query(spark, tr, out)))
      if (timed) guard("load output check")(LogLoad.verify(spark, out, expect, check(_, _)))
    } finally LogLoad.delete(out)
    guard("ingest session") {
      runSession(spark, tr, Rounds, PerRound) { (url, csv) =>
        if (timed) LogIngest.verify(spark, url, csv, Rounds.toLong * PerRound, check(_, _))
      }.zipWithIndex.foreach { case (t, k) => step(timed, s"round_${k + 1}", tr)(t) }
    }
  }

  def layers(tr: Tracer): Seq[(String, Double)] = {
    val loads = tr.all.filter(_.name == "parse.load")
    val loadOps = tr.all.filter(_.name == "op.load")
    val queryOps = tr.all.filter(_.name == "op.load_query")
    def within(name: String)(op: Span): Double =
      tr.under(op).filter(_.name.startsWith(name)).map(_.durS).sum
    val spans = rounds.map(_._1).toSeq
    val batches = rounds.map { case (_, id) => tr.batchesOf(id) }.toSeq
    def perRound(k: String) = Stats.median(batches.map(_.map(_(k)).sum))
    val nBatches = batches.map(_.length).sum
    Seq("load_s" -> Layers.med(loadOps)(_.durS),
      "load_query_s" -> Layers.med(queryOps)(_.durS),
      "ingest_round_s_p50" -> Layers.med(spans)(_.durS),
      "ingest_round_s_p75" -> Stats.quantile(spans.map(_.durS), 0.75),
      "parse.plan_s" -> Layers.med(loads)(_.planS),
      "parse.exec_s" -> Layers.med(loads)(_.execS)) ++
      Layers.counters.map { case (k, _) => s"parse.$k" -> Layers.med(loads)(_.counter(k)) } ++
      Layers.counters.map { case (k, _) => s"ingest.$k" -> Layers.med(spans)(_.counter(k)) } ++
      Seq("sinks.csv_write_s" -> Layers.med(loadOps)(within("sinks.csv_write.")),
        "sinks.csv_write_generations_s" ->
          Layers.med(loadOps)(within("sinks.csv_write.generations")),
        "sinks.bytes_per_input_byte" -> outBytes.toDouble / expect.bytes,
        "sinks.csv_read_s" -> Layers.med(queryOps)(op =>
          (op +: tr.under(op)).map(_.counter("task_s")).sum),
        "sinks.jdbc_upsert_s" -> Layers.med(spans)(within("sinks.jdbc_upsert")),
        "sinks.csv_append_s" -> Layers.med(spans)(within("sinks.csv_append")),
        "streaming.start_s" -> Stats.median(startS.toSeq),
        "streaming.latest_offset_ms" -> perRound("latest_offset_ms"),
        "streaming.add_batch_ms" -> perRound("add_batch_ms"),
        "streaming.commit_ms" -> perRound("commit_ms"),
        "streaming.batches_per_round" ->
          (if (spans.isEmpty) 0.0 else nBatches.toDouble / spans.length),
        "streaming.empty_batch_ratio" ->
          (if (nBatches == 0) 0.0
           else batches.map(_.count(_("rows") == 0)).sum.toDouble / nBatches))
  }
}

object LogLoad {
  val experimentsSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("user", StringType),
    StructField("rundate", StringType), StructField("problem_name", StringType),
    StructField("problem_id", LongType), StructField("clojush_version", StringType),
    StructField("logfile_location", StringType), StructField("csv_write_time", StringType)))
  val experimentSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("parameter", StringType),
    StructField("value", StringType)))
  val generationsSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("gennum", IntegerType),
    StructField("parameter", StringType), StructField("value", StringType)))
  val summarySchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("successp", BooleanType),
    StructField("maxgen", IntegerType)))

  /** (row count, sum of CRC-32 of the `|`-joined fields) of a table. */
  def countAndCrc(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(crc32(concat_ws("|", df.columns.map(col): _*).cast("binary"))),
        lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The output checks of one load: per-table row counts, and the
    * checksums of `summary` and `generations`, against the generator. */
  def verify(spark: SparkSession, out: Path, e: LogGen.Expect,
      check: (String, Boolean) => Boolean): Unit = {
    def read(t: String, s: StructType) = CsvSink.read(spark, out.resolve(t).toString, s)
    val exps = read("experiments", experimentsSchema).count()
    val exp = read("experiment", experimentSchema).count()
    val (gens, gensCrc) = countAndCrc(read("generations", generationsSchema))
    val (sums, sumsCrc) = countAndCrc(read("summary", summarySchema))
    check(s"experiments rows $exps == ${e.files}", exps == e.files)
    check(s"experiment rows $exp == ${e.experiment}", exp == e.experiment)
    check(s"generations rows $gens == ${e.generations}, checksum",
      gens == e.generations && gensCrc == e.generationsCrc)
    check(s"summary rows $sums == ${e.summary}, checksum",
      sums == e.summary && sumsCrc == e.summaryCrc)
  }

  /** Bytes of the data files a sink wrote (Hadoop's `.crc` side files and
    * `_SUCCESS` markers excluded). */
  def dataBytes(dir: Path): Long =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .map(Files.size).sum

  def delete(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
}

object LogIngest {
  /** The output checks of one session that landed `files` logs: Derby
    * holds one `summary` row per file with distinct ids and one
    * `experiments` row per file; the CSV `generations` holds every
    * generation row. */
  def verify(spark: SparkSession, url: String, csv: Path, files: Long,
      check: (String, Boolean) => Boolean): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      def one(sql: String): Long = {
        val rs = conn.createStatement().executeQuery(sql); rs.next(); rs.getLong(1)
      }
      val sums = one("SELECT COUNT(*) FROM summary")
      val ids = one("SELECT COUNT(DISTINCT id) FROM summary")
      val exps = one("SELECT COUNT(*) FROM experiments")
      check(s"derby summary rows $sums == $files, distinct ids $ids",
        sums == files && ids == files)
      check(s"derby experiments rows $exps == $files", exps == files)
    } finally conn.close()
    val expected = files * LogGen.SmallGens * LogGen.Metrics
    val gens = CsvSink.read(spark, csv.resolve("generations").toString,
      LogLoad.generationsSchema).count()
    check(s"csv generations rows $gens == $expected", gens == expected)
  }
}

/** The analytics half: the bench queries of `graft.SparkEntry` over a
  * generated star schema, each forced through `BenchProtocol.force`, with
  * the cache cleared before each as `graft.Bench` does. A pass runs all of
  * them in the seed's order. */
final class StarQueries(c: Main.Conf) extends Workload(c) {
  private val queries = graft.SparkEntry.benchQueries
  val warmUpPasses = 3
  private val order = new scala.util.Random(conf.seed).shuffle(queries)
  private def dir = tmp("star").toString

  def prepare(): Unit = StarGen.write(tmp("star"), StarQueries.Rows)

  private def run(spark: SparkSession, tr: Tracer, name: String): Double = {
    spark.sharedState.cacheManager.clearCache()
    timed(tr.span(s"op.query.$name") {
      val df = tr.span("queries.build")(graft.SparkEntry.queries(name)(spark, dir))
      tr.span("queries.force")(BenchProtocol.force(df))
    })
  }

  /** The flagship query (`SparkEntry.entry` runs it too). */
  def coldStep(spark: SparkSession): Unit =
    run(spark, new Tracer(spark, "setup"), "q1_pricing_summary")

  def pass(spark: SparkSession, tr: Tracer, timed: Boolean): Unit =
    order.foreach(name => step(timed, name, tr)(run(spark, tr, name)))

  /** The first warm-up pass is the result check: the bench queries are the
    * ones the per-layer metrics name, and each query's order-independent
    * hash equals the one pinned for the generated data. It runs every query
    * once, as a warm-up pass does. */
  override def warmUp(spark: SparkSession, k: Int): Unit =
    if (k > 0) super.warmUp(spark, k)
    else {
      check(s"bench queries ${queries.mkString(",")} == per-layer query metrics",
        queries.sorted == StarQueries.names.sorted)
      order.foreach { name =>
        spark.sharedState.cacheManager.clearCache()
        val h = try StarQueries.resultHash(graft.SparkEntry.queries(name)(spark, dir))
          catch { case e: Throwable => s"threw $e" }
        check(s"$name result hash $h == ${StarQueries.pinned.getOrElse(name, "?")}",
          StarQueries.pinned.get(name).contains(h))
      }
    }

  def layers(tr: Tracer): Seq[(String, Double)] = {
    val byName = tr.all.filter(_.name.startsWith("op.query."))
      .groupBy(_.name.stripPrefix("op.query."))
    /** Σ over queries of the median over executions of `f` applied to
      * the execution's span and its descendants. */
    def sumMed(f: (Span, Seq[Span]) => Double): Double =
      StarQueries.names.map(n =>
        Stats.median(byName.getOrElse(n, Nil).map(s => f(s, s +: tr.under(s))))).sum
    StarQueries.names.map(n => s"queries.${n}_s" ->
      Stats.median(byName.getOrElse(n, Nil).map(_.durS))) ++
      Seq("star_total_s" -> sumMed((s, _) => s.durS),
        "queries.plan_s" -> sumMed { (s, all) =>
          (math.min(all.map(_.firstJobNs).min, s.endNs) - s.startNs) / 1e9 }) ++
      (Layers.counters :+ ("spill_mb" -> "MB")).map { case (k, _) =>
        s"queries.$k" -> sumMed((_, all) => all.map(_.counter(k)).sum) }
  }
}

object StarQueries {
  /** lineitem rows of the generated star schema: a sixth of sf0.1. */
  val Rows = 100000L

  /** The queries the per-layer metrics name (`queries.<name>_s`, as listed
    * in BENCHMARK.json); a run checks they are `SparkEntry.benchQueries`. */
  val names: Seq[String] = Seq("q1_pricing_summary", "a6_revenue_by_nation",
    "j7_large_equi", "q3_shipping_priority", "q5_local_supplier",
    "q8_market_share", "w3_moving_avg", "t4_tumbling_hour", "t4_session",
    "x4_cosine_topk", "d_minhash_pipeline")

  /** Row count plus the sum of per-row hashes, so the hash is independent
    * of row order and partitioning. */
  def resultHash(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*), lit(2147483647L))),
        lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /** Result hashes of the queries above on `StarGen` data at [[Rows]]. */
  val pinned: Map[String, String] = Map(
    "q1_pricing_summary" -> "6:7988107976",
    "a6_revenue_by_nation" -> "25:26101546180",
    "j7_large_equi" -> "5:6021048841",
    "q3_shipping_priority" -> "10:12108428865",
    "q5_local_supplier" -> "5:5094087078",
    "q8_market_share" -> "7:9788628719",
    "w3_moving_avg" -> "25000:26781833892441",
    "t4_tumbling_hour" -> "3553:3809290489442",
    "t4_session" -> "15886:17011240567580",
    "x4_cosine_topk" -> "10:11968861924",
    "d_minhash_pipeline" -> "40:48011617940")
}
