package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session definition and the one runner: the test fixture
  * gets every geometry conf the mains run with, `Bench`'s modes check
  * query names up front and write only the artifact their run stands for.
  */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir

  test("the test fixture carries every geometry conf Session defines") {
    // the conf the context was BUILT with: a test that sets and restores
    // a SQL conf at runtime cannot mask a conf missing from the build
    val built = spark.sparkContext.getConf
    Session.geometry.foreach { case (k, v) =>
      assert(built.getOption(k) === Some(v), k)
    }
    assert(built.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.master === "local[4]")
  }

  test("the co-partitioning conf has one definition site under src") {
    // split so that this file is not a hit itself; latin-1 reads the
    // binary fixtures under src too
    val key = "requireAllClusterKeys" + "ForCoPartition"
    val sites = Files.walk(Paths.get("src")).iterator.asScala
      .filter(Files.isRegularFile(_))
      .flatMap(p => new String(Files.readAllBytes(p), ISO_8859_1).linesIterator
        .filter(_.contains(key)).map(_ => p.getFileName.toString))
      .toSeq
    assert(sites === Seq("Session.scala"))
  }

  test("Bench --explain prints q01's physical plan with its parquet scan") {
    val dir = Files.createTempDirectory("graft_explain_")
    val plan = Bench.mode(List("--explain", "q01_agg_filter"), sfDir, dir)(spark)
    assert(plan.contains("== Physical Plan =="), plan)
    assert(plan.contains("Scan parquet"), plan)
    // the plan AQE settled on after running the query, not the initial one
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(dir.toFile.list().isEmpty, "--explain writes no artifact")
  }

  test("Bench --profile runs the query and writes no artifact") {
    val dir = Files.createTempDirectory("graft_profile_")
    assert(Bench.mode(List("--profile", "q01_agg_filter", "2"), sfDir, dir)(spark)
      .isEmpty)
    assert(dir.toFile.list().isEmpty, "--profile writes no artifact")
  }

  test("every mode rejects an unknown query name before a session starts") {
    val out = Files.createTempDirectory("graft_verify_").toString
    val runs: Seq[(String, () => Any)] = Seq(
      "Verify" -> (() => Verify.main(Array(sfDir, out, "q01_agg_filter", "q05_typo"))),
      "Bench" -> (() => Bench.mode(List("q05_typo"), sfDir, Paths.get(out))),
      "--explain" -> (() =>
        Bench.mode(List("--explain", "q05_typo"), sfDir, Paths.get(out))),
      "--profile" -> (() =>
        Bench.mode(List("--profile", "q05_typo", "2"), sfDir, Paths.get(out))))
    runs.foreach { case (what, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("unknown query name(s): q05_typo"), what)
    }
    assert(new File(out).list().isEmpty, "Verify dumped nothing")
    intercept[IllegalArgumentException](
      Bench.mode(List("--explain"), sfDir, Paths.get(out)))
  }

  test("a filtered Bench run writes BENCH_PARTIAL.json, not the full-suite files") {
    // the real main in its own JVM: it builds and stops its own session,
    // and its last stdout line is what the headline parse reads
    val dir = Files.createTempDirectory("graft_bench_partial_").toFile
    val log = File.createTempFile("graft_bench_partial_", ".log")
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val pb = new ProcessBuilder((Seq(java) ++ jvmArgs ++ Seq("-Xmx1g",
      "-cp", sys.props("java.class.path"), "graft.Bench", "q01_agg_filter")).asJava)
      .directory(dir)
      .redirectError(log)
    pb.environment().putAll(Map("SPARK_GRAFT_SF_DIR" -> sfDir,
      "SPARK_GRAFT_CPUS" -> "2", "SPARK_GRAFT_BENCH_REPS" -> "1").asJava)
    val proc = pb.start()
    val stdout = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() === 0, Files.readString(log.toPath))
    assert(dir.list().filter(_.startsWith("BENCH_")).toSet ===
      Set("BENCH_PARTIAL.json"))
    val last = stdout.linesIterator.toSeq.last
    assert(last.startsWith("{\"metric\":"), stdout)
    assert(last.contains("\"n_queries\":1,"), last)
    assert(last.contains("\"full\":\"BENCH_PARTIAL.json\""), last)
  }
}
