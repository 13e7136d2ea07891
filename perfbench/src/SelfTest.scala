package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.parse.LogPipeline
import graft.sinks.CsvSink

/** The benchmark's own tests: each output check passes on intact output and
  * fails when one input file or one output row is dropped.
  *
  *   perfbench.SelfTest --tmp <dir> --cores <n>
  *
  * Prints one line per case; exits non-zero if any case misbehaves. */
object SelfTest {
  private var bad = 0

  /** Runs `checks` and reports whether they passed as `wantPass` says. */
  private def expect(name: String, wantPass: Boolean)(
      checks: ((String, Boolean) => Boolean) => Unit): Unit = {
    var failures = 0
    try checks((_, ok) => { if (!ok) failures += 1; ok })
    catch { case e: Throwable => println(s"  ($name threw $e)"); failures += 1 }
    val good = (failures == 0) == wantPass
    if (!good) bad += 1
    println(s"${if (good) "ok  " else "FAIL"} $name: checks " +
      (if (failures == 0) "passed" else s"failed ($failures)"))
  }

  /** Drops the last row of the first non-empty CSV part file in `dir`
    * (and its Hadoop checksum side file, which would no longer match). */
  private def dropRow(dir: Path): Unit = {
    val part = Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
      .find(p => p.getFileName.toString.startsWith("part-") &&
        Files.readAllLines(p).size > 1).get
    val lines = Files.readAllLines(part).asScala
    Files.write(part, (lines.init.mkString("\n") + "\n").getBytes("UTF-8"))
    Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val tmp = Paths.get(m("tmp")).toAbsolutePath
    val cores = m("cores").toInt
    val conf = Main.Conf("selftest", 7L, 1.0, trace = false, tmp, cores)
    val spark = graft.Sessions.local("perfbench-selftest", cores)

    // log_load: counts and checksums of the sunk tables
    val logs = tmp.resolve("logs")
    val e = LogGen.corpus(logs, 7L, 6, 400)
    val cfg = LogPipeline.LoadConfig(bigFileBytes = 32L << 10)
    def loadTo(out: Path): Path = {
      val t = LogPipeline.load(spark, s"$logs/*/*.log", cfg)
      Seq("experiments" -> t.experiments, "experiment" -> t.experiment,
        "generations" -> t.generations, "summary" -> t.summary)
        .foreach { case (n, df) => CsvSink.append(df, out.resolve(n).toString) }
      t.release()
      out
    }
    val intact = loadTo(tmp.resolve("out-intact"))
    expect("log_load intact output", wantPass = true)(LogLoad.verify(spark, intact, e, _))
    Seq("generations", "summary", "experiment", "experiments").foreach { table =>
      val out = loadTo(tmp.resolve(s"out-$table"))
      dropRow(out.resolve(table))
      expect(s"log_load one $table row dropped", wantPass = false)(
        LogLoad.verify(spark, out, e, _))
    }
    Files.delete(logs.resolve("many/run_00003.log"))
    expect("log_load one input file dropped", wantPass = false)(
      LogLoad.verify(spark, loadTo(tmp.resolve("out-missing")), e, _))

    // log_ingest: Derby row counts and distinct ids, CSV generations count
    val ingest = new LogLoadIngest(conf)
    ingest.prepare()
    val tr = new Tracer(spark, "selftest")
    def session(name: String, wantPass: Boolean)(tamper: (String, Path) => Unit): Unit =
      ingest.runSession(spark, tr, 2, 3) { (url, csv) =>
        tamper(url, csv)
        expect(name, wantPass)(LogIngest.verify(spark, url, csv, 6L, _))
      }
    session("log_ingest intact output", wantPass = true)((_, _) => ())
    session("log_ingest one summary row dropped", wantPass = false) { (url, _) =>
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().execute(
        "DELETE FROM summary WHERE id = (SELECT MIN(id) FROM summary)")
      finally c.close()
    }
    session("log_ingest one generations row dropped", wantPass = false) { (_, csv) =>
      dropRow(csv.resolve("generations"))
    }

    // star_queries: the result hash ignores row order and sees a lost row
    val star = tmp.resolve("star")
    StarGen.write(star, 20000)
    StarQueries.names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, star.toString)
      val rows = df.collect().toSeq
      def hashOf(rs: Seq[org.apache.spark.sql.Row]) =
        StarQueries.resultHash(spark.createDataFrame(rs.reverse.asJava, df.schema))
      val h = StarQueries.resultHash(df)
      expect(s"star_queries $name result hash intact", wantPass = true)(
        check => check("same rows, other order", rows.nonEmpty && hashOf(rows) == h))
      expect(s"star_queries $name one result row dropped", wantPass = false)(
        check => check("hash differs", hashOf(rows.drop(1)) == h))
    }

    spark.stop()
    println(if (bad == 0) "selftest passed" else s"selftest: $bad case(s) misbehaved")
    if (bad != 0) sys.exit(1)
  }
}
