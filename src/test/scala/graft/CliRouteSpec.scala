package graft

import java.io.{ByteArrayOutputStream, FileOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.cli.Main
import graft.codegen.SyncSqlGenerator
import graft.engine.{LocalSync, SyncJob}
import graft.sources.DumpSource

/** Written into the working directory when a SparkContext starts (a
  * `spark.extraListeners` entry): its absence proves a run never
  * started Spark.
  */
class SparkStartMarker extends SparkListener {
  Files.write(java.nio.file.Paths.get("spark-started"), Array.emptyByteArray)
}

/** Which inputs the CLI's default sync sends where, and the flag checks
  * in front of it.
  */
class CliRouteSpec extends SparkSuite {

  private val ddl =
    "CREATE TABLE `t` (\n  `id` INT,\n  `v` INT,\n  PRIMARY KEY (`id`)\n) ENGINE=InnoDB;\n"
  private val prodDump = ddl + "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 1),\n(2, 2);\n"
  private val backupDump = ddl + "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 5),\n(3, 3);\n"

  private def pair(dir: Path): (String, String) = {
    val p = dir.resolve("prod.sql"); val b = dir.resolve("backup.sql")
    Files.write(p, prodDump.getBytes("UTF-8"))
    Files.write(b, backupDump.getBytes("UTF-8"))
    (p.toString, b.toString)
  }

  private def gzip(src: String): String = {
    val out = new GZIPOutputStream(new FileOutputStream(src + ".gz"))
    try out.write(Files.readAllBytes(java.nio.file.Paths.get(src)))
    finally out.close()
    src + ".gz"
  }

  private def masked(script: String): String =
    script.split("\n", -1).map(l =>
      if (l.startsWith("-- Generated on:")) "-- Generated on:" else l).mkString("\n")

  test("small plain pairs route local; heap limit, gzip and event log route to Spark") {
    val (p, b) = pair(Files.createTempDirectory("graft-route"))
    val size = Files.size(java.nio.file.Paths.get(p)) + Files.size(java.nio.file.Paths.get(b))
    val limit = size * LocalSync.HeapPerInputByte
    assert(Main.localRoute(p, b, Map.empty, limit))
    assert(!Main.localRoute(p, b, Map.empty, limit - LocalSync.HeapPerInputByte),
      "a pair over heap / 16 must take Spark")
    assert(!Main.localRoute(gzip(p), gzip(b), Map.empty, Long.MaxValue),
      "compressed dumps must take Spark")
    assert(!Main.localRoute(p, b, Map("spark.eventLog.enabled" -> "true"), limit),
      "a run that asks for an event log must take Spark")
    assert(Main.localRoute(p, b, Map("spark.eventLog.enabled" -> "false"), limit))
  }

  /** `graft.cli.Main` in a fresh JVM (working directory `dir`, 1 GB heap)
    * with a [[SparkStartMarker]] registered; (exit code, Spark started).
    */
  private def cli(dir: Path, props: Seq[String], args: String*): (Int, Boolean) = {
    val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvm ++
      Seq("-Xmx1g", "-Dspark.ui.enabled=false",
        s"-Dspark.extraListeners=${classOf[SparkStartMarker].getName}") ++ props ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.cli.Main") ++ args
    val proc = new ProcessBuilder(cmd: _*).directory(dir.toFile)
      .redirectErrorStream(true)
      .redirectOutput(dir.resolve("cli.log").toFile)
      .start()
    (proc.waitFor(), Files.exists(dir.resolve("spark-started")))
  }

  test("the default CLI sync of a small pair never creates a SparkContext") {
    val dir = Files.createTempDirectory("graft-cli-local")
    val (p, b) = pair(dir)
    val expected = masked(SyncSqlGenerator.assemble(LocalSync.run(p, b), "T"))
    val (rc, started) = cli(dir, Nil, p, b, "out.sql")
    assert(rc == 0, Files.readString(dir.resolve("cli.log")))
    assert(!started, "the local route started Spark")
    assert(masked(Files.readString(dir.resolve("out.sql"))) == expected)

    // the control: an event-logged run takes Spark, with the same bytes
    val spark = Files.createTempDirectory("graft-cli-spark")
    val events = Files.createDirectories(spark.resolve("events"))
    val (rc2, started2) = cli(spark,
      Seq("-Dspark.eventLog.enabled=true", s"-Dspark.eventLog.dir=file://$events"),
      p, b, "out.sql")
    assert(rc2 == 0, Files.readString(spark.resolve("cli.log")))
    assert(started2, "the event-logged run did not start Spark")
    assert(Files.list(events).count() > 0, "no event log written")
    assert(masked(Files.readString(spark.resolve("out.sql"))) == expected)
  }

  test("a small pair whose diff exceeds the collected-script gate still gets the parts sink") {
    // 1M + 1 one-column rows: a few MB, so the pair routes local, but
    // the op count is over SyncJob.DefaultMaxCollectedOps
    val dir = Files.createTempDirectory("graft-cli-gate")
    val n = SyncJob.DefaultMaxCollectedOps + 1
    val head = "CREATE TABLE `t` (\n  `id` INT,\n  PRIMARY KEY (`id`)\n) ENGINE=InnoDB;\n"
    val prod = dir.resolve("prod.sql")
    val w = Files.newBufferedWriter(prod)
    try {
      w.write(head)
      (0L until n).grouped(1000).foreach(ids =>
        w.write("INSERT INTO `t` (`id`) VALUES " + ids.mkString("(", "),(", ")") + ";\n"))
    } finally w.close()
    Files.write(dir.resolve("backup.sql"), head.getBytes("UTF-8"))
    assert(Main.localRoute(prod.toString, dir.resolve("backup.sql").toString,
      Map.empty, 1L << 30))
    val (rc, started) = cli(dir, Nil, "prod.sql", "backup.sql", "out.sql")
    assert(rc == 0, Files.readString(dir.resolve("cli.log")))
    assert(started, "an over-gate diff must reach Spark's distributed sink")
    assert(!Files.exists(dir.resolve("out.sql")))
    val inserts = Files.list(dir.resolve("out.sql.parts")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => Files.readAllLines(p).asScala.count(_.startsWith("INSERT INTO")).toLong)
      .sum
    assert(inserts == n)
  }

  test("--state writes its script into an output dir that does not exist yet") {
    val dir = Files.createTempDirectory("graft-cli-state")
    val (p, b) = pair(dir)
    val expected = masked(SyncSqlGenerator.assemble(LocalSync.run(p, b), "T"))
    val (rc, _) = cli(dir, Nil, "--state", "state", p, b, "out/nested/x.sql")
    assert(rc == 0, Files.readString(dir.resolve("cli.log")))
    assert(masked(Files.readString(dir.resolve("out/nested/x.sql"))) == expected)
  }

  test("--distributed-out on a small pair writes one part equal to the default script") {
    val dir = Files.createTempDirectory("graft-cli-dist")
    val (p, b) = pair(dir)
    val (rc, _) = cli(dir, Nil, p, b, "out.sql")
    assert(rc == 0, Files.readString(dir.resolve("cli.log")))
    val (rc2, _) = cli(dir, Nil, "--distributed-out", "parts", p, b)
    assert(rc2 == 0, Files.readString(dir.resolve("cli.log")))
    val parts = Files.list(dir.resolve("parts")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.map(_.getFileName.toString) == Seq("part-00000"))
    assert(masked(Files.readString(parts.head)) ==
      masked(Files.readString(dir.resolve("out.sql"))) + "\n")
  }

  test("--state or --distributed-out as the last argument is a usage error") {
    val dir = Files.createTempDirectory("graft-cli-usage")
    val (p, b) = pair(dir)
    val out = dir.resolve("out.sql").toString
    Seq("--state", "--distributed-out").foreach { flag =>
      val err = new ByteArrayOutputStream
      val rc = Console.withErr(new PrintStream(err, true, "UTF-8")) {
        Main.run(Array(p, b, out, flag))
      }
      assert(rc == 1, s"$flag: exit code $rc")
      assert(err.toString("UTF-8").contains(s"Usage: $flag <dir>"))
      assert(!Files.exists(dir.resolve("out.sql")), s"$flag: a sync ran anyway")
    }
  }

  test("the Spark catalog pass runs one job per dump") {
    val (p, b) = pair(Files.createTempDirectory("graft-catalog-jobs"))
    val job = new SyncJob(spark)
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    }
    Seq(p, b).foreach { path =>
      val stmts = DumpSource.statements(spark, path)
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        val info = job.catalogInfo(stmts)
        assert(info.metas.keySet == Set("t"))
        org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs == 2, s"catalog passes ran $jobs jobs for two dumps")
  }
}
