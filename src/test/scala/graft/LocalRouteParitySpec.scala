package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.codegen.SyncSqlGenerator
import graft.engine.{LocalSync, SyncJob}

/** The driver-local route ([[LocalSync]]) against every Spark route on
  * the same dump pair: the same outcome as `SyncJob.run`, and the same
  * script bytes as `assemble(run(...))`, `syncAuto`'s single file and
  * the concatenated parts of `syncDistributed`'s text sink.
  */
class LocalRouteParitySpec extends SparkSuite {

  private def tmpFile(content: String): String = {
    val p = Files.createTempFile("graft-local", ".sql")
    Files.write(p, content.getBytes("UTF-8"))
    p.toFile.deleteOnExit()
    p.toString
  }

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  private def assertParity(name: String, prodDump: String, backupDump: String): Unit = {
    val (prod, backup) = (tmpFile(prodDump), tmpFile(backupDump))
    val job = new SyncJob(spark)
    val local = LocalSync.run(prod, backup)
    val ran = job.run(prod, backup)
    def key(o: graft.engine.SyncOutcome) =
      o.ops.sortBy(d => (d.table, d.op, d.ordOff, d.ordRow))
    assert(local.copy(ops = Nil) == ran.copy(ops = Nil), s"$name: outcome")
    assert(key(local) == key(ran), s"$name: ops")

    val script = SyncSqlGenerator.assemble(local, "T")
    assert(SyncSqlGenerator.assemble(ran, "T") == script, s"$name: assemble(run)")
    val autoOut = Files.createTempDirectory("graft-local-auto").resolve("out.sql")
    assert(job.syncAuto(prod, backup, autoOut.toString, "T")._2.isEmpty)
    assert(read(autoOut.toString) == script, s"$name: syncAuto")
    val dir = Files.createTempDirectory("graft-local-dist").resolve("parts")
    job.syncDistributed(prod, backup, dir.toString, "T", maxCollectedOps = 0L)
    val parts = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    // the text sink ends the last line with '\n'; assemble does not
    assert(parts.map(p => read(p.toString)).mkString == script + "\n",
      s"$name: syncDistributed")
  }

  private def ddl(table: String, cols: Seq[String], pk: Option[String]): String =
    s"CREATE TABLE `$table` (\n" + cols.map(c => s"  `$c` INT,\n").mkString +
      pk.fold("  KEY `k` (`v`)\n")(k => s"  PRIMARY KEY (`$k`)\n") +
      ") ENGINE=InnoDB;\n"

  private def insert(table: String, cols: Seq[String], rows: String*): String =
    s"INSERT INTO `$table` (${cols.map(c => s"`$c`").mkString(", ")}) VALUES\n" +
      rows.mkString(",\n") + ";\n"

  private val cols = Seq("id", "v")

  test("local route matches every Spark route on the round-trip generator") {
    RoundTripSpec.samples(8).zipWithIndex.foreach { case ((p, b), i) =>
      assertParity(s"sample $i", RoundTripSpec.renderDump(p),
        RoundTripSpec.renderDump(b))
    }
  }

  test("local route parity: missing table (CREATE-section quirk) and extra table") {
    // the missing table is not the first CREATE, so its section spans
    // from the dump's first CREATE TABLE through its own DDL
    val prod = ddl("a", cols, Some("id")) + insert("a", cols, "(1, 1)") +
      ddl("only_prod", cols, Some("id")) + insert("only_prod", cols, "(1, 2)")
    val backup = ddl("a", cols, Some("id")) + insert("a", cols, "(1, 9)") +
      ddl("only_backup", cols, Some("id"))
    assertParity("missing/extra", prod, backup)
  }

  test("local route parity: duplicate PKs (last value wins, first position orders)") {
    val prod = ddl("t", cols, Some("id")) +
      insert("t", cols, "(3, 30)", "(1, 10)", "(2, 20)") +
      insert("t", cols, "(1, 11)", "(3, 33)")
    val backup = ddl("t", cols, Some("id")) +
      insert("t", cols, "(2, 20)", "(4, 40)", "(4, 41)")
    assertParity("duplicate pks", prod, backup)
  }

  test("local route parity: table without a PK keys on `id`") {
    val prod = ddl("t", cols, None) + insert("t", cols, "(1, 1)", "(2, 2)")
    val backup = ddl("t", cols, None) + insert("t", cols, "(1, 5)", "(3, 3)")
    assertParity("no pk", prod, backup)
  }

  test("local route parity: INSERT without a column list is ignored") {
    val prod = ddl("t", cols, Some("id")) + insert("t", cols, "(1, 1)") +
      "INSERT INTO `t` VALUES (2, 2);\n"
    val backup = ddl("t", cols, Some("id")) + "INSERT INTO `t` VALUES (1, 7);\n"
    assertParity("no column list", prod, backup)
  }

  test("local route parity: dumps without a trailing `;\\n`") {
    val prod = ddl("t", cols, Some("id")) + insert("t", cols, "(1, 1)", "(2, 2)")
      .stripSuffix(";\n")
    // a missing table's DDL as the last, unterminated statement
    val backup = ddl("t", cols, Some("id")) + insert("t", cols, "(1, 1)")
    assertParity("no trailing terminator", prod, backup)
    assertParity("unterminated missing table",
      prod + ";\n" + ddl("late", cols, Some("id")).stripSuffix("\n"), backup)
  }

  test("local route parity: empty dumps") {
    val dump = ddl("t", cols, Some("id")) + insert("t", cols, "(1, 1)")
    assertParity("empty backup", dump, "")
    assertParity("empty production", "", dump)
    assertParity("both empty", "", "")
  }
}
