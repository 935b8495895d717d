package graft

import java.nio.file.{Files, Path}

import org.scalacheck.Gen

import graft.codegen.SyncSqlGenerator
import graft.engine.SyncJob
import graft.model.TableMeta
import graft.parse.DumpParser

/** The round-trip property (SURVEY.md §5.2 item 3): applying the
  * generated sync script to the backup state yields exactly the
  * production state, for randomized schemas/rows including quoted
  * commas, doubled-quote escapes, NULLs, dup-PK rows (last-wins), and
  * `)`-in-string values.
  *
  * "Applying" is simulated by a driver-side interpreter over the script's
  * statement grammar (our own codegen output — DROP/CREATE/DELETE/UPDATE/
  * INSERT) against a Map[table -> Map[pk -> values]] state.
  */
class RoundTripSpec extends SparkSuite {
  import RoundTripSpec._

  // ------------------------------------------------------------ helpers

  private def tmpFile(content: String): Path = {
    val p = Files.createTempFile("graft-rt", ".sql")
    Files.write(p, content.getBytes("UTF-8"))
    p.toFile.deleteOnExit()
    p
  }

  /** Dedup rows last-wins by first value (the PK), preserving
    * first-occurrence order — the reference dict semantics.
    */
  private def lastWins(rows: Seq[Seq[String]]): Map[String, Seq[String]] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    rows.foreach(r => out(r.head) = r)
    out.toMap
  }

  // --------------------------------------------- script apply simulator

  private val DropRe = "DROP TABLE IF EXISTS `(\\w+)`;".r
  private val DeleteRe = "DELETE FROM `(\\w+)` WHERE (.*);".r
  private val UpdateRe = "UPDATE `(\\w+)` SET (.*) WHERE (.*);".r
  private val InsertRe = "INSERT INTO `(\\w+)` VALUES \\((.*)\\);".r
  private val ClauseRe = "`(\\w+)` = (.*)".r

  private def parseClauses(s: String, sep: String): Seq[(String, String)] =
    // split on the separator only at clause boundaries (values are quoted
    // literals from our own pool; separators never appear inside them)
    s.split(sep).toSeq.map { case ClauseRe(c, v) => (c, v) }

  /** Apply a generated script to state: table -> (pk -> values). */
  private def applyScript(script: String,
      state0: Map[String, Map[String, Seq[String]]],
      metas: Map[String, TableMeta]): Map[String, Map[String, Seq[String]]] = {
    var state = state0
    script.split("\n").filterNot(l => l.isEmpty || l.startsWith("--")).foreach {
      case DropRe(t) => state -= t
      case UpdateRe(t, setPart, wherePart) =>
        val meta = metas(t)
        val sets = parseClauses(setPart, ", ")
        val wheres = parseClauses(wherePart, " AND ")
        val pk = wheres.map(_._2).mkString("|")
        state(t).get(pk).foreach { vals =>
          val updated = meta.columns.zipWithIndex.map { case (c, i) =>
            sets.find(_._1 == c).map(_._2).getOrElse(vals(i))
          }
          val newPk = DumpParser.pkString(updated.toIndexedSeq, meta)
          state += t -> ((state(t) - pk) + (newPk -> updated))
        }
      case DeleteRe(t, wherePart) =>
        val pk = parseClauses(wherePart, " AND ").map(_._2).mkString("|")
        state += t -> (state(t) - pk)
      case InsertRe(t, valsPart) =>
        val vals = DumpParser.splitValues(valsPart)
        val pk = DumpParser.pkString(vals, metas(t))
        state += t -> (state.getOrElse(t, Map.empty) + (pk -> vals))
      case line if line.startsWith("CREATE TABLE") => // handled below
      case _ => // multi-line CREATE bodies / blank-ish lines
    }
    // CREATE TABLE statements (multi-line): add empty tables
    DumpParser.parseCatalog(line_split_statements(script)).foreach { case (t, _) =>
      if (!state.contains(t)) state += t -> Map.empty
    }
    state
  }

  private def line_split_statements(script: String): Iterator[String] =
    script.split(";\n").iterator.map(_ + ";")

  // ----------------------------------------------------------- the prop

  test("round trip: applying the sync script to backup reproduces production") {
    // deterministic sampling (seeded) — scalacheck Gen without the
    // scalatestplus bridge
    samples(8).foreach { case (prodTables, backupTables) =>
      val prodDump = renderDump(prodTables)
      val backupDump = renderDump(backupTables)
      val outcome = new SyncJob(spark)
        .run(tmpFile(prodDump).toString, tmpFile(backupDump).toString)
      val script = SyncSqlGenerator.assemble(outcome, "T")

      val metas = outcome.prodCatalog ++ outcome.backupCatalog
      val backupState: Map[String, Map[String, Seq[String]]] =
        backupTables.map { case (t, rows) => t -> lastWins(rows) }.toMap
      val got = applyScript(script, backupState, metas.toMap)

      val prodState = prodTables.map { case (t, rows) => t -> lastWins(rows) }.toMap
      prodState.foreach { case (t, expected) =>
        if (backupState.contains(t)) {
          assert(got(t) == expected, s"table $t records differ\nscript:\n$script")
        } else {
          // reference quirk preserved: missing tables are created but
          // their records are NOT inserted (sync.py:256-257)
          assert(got(t) == Map.empty, s"prod-only table $t should be created empty")
        }
      }
      got.keys.foreach(t => assert(prodState.contains(t), s"table $t should be dropped"))
    }
  }
}

/** The randomized dump pairs, shared with the route-parity spec. */
object RoundTripSpec {
  def renderDump(tables: Seq[(String, Seq[Seq[String]])]): String =
    tables.map { case (name, rows) =>
      val ddl =
        s"""CREATE TABLE `$name` (
           |  `id` INT,
           |  `v1` VARCHAR(50),
           |  `v2` VARCHAR(50),
           |  PRIMARY KEY (`id`)
           |) ENGINE=InnoDB;""".stripMargin
      val ins = rows.grouped(3).map { batch =>
        "INSERT INTO `" + name + "` (`id`, `v1`, `v2`) VALUES\n" +
          batch.map(r => "(" + r.mkString(", ") + ")").mkString(",\n") + ";"
      }.mkString("\n")
      if (rows.isEmpty) ddl else ddl + "\n" + ins
    }.mkString("\n\n")

  private val litGen: Gen[String] = Gen.oneOf(
    "NULL", "'a'", "'b, c'", "'O''Brien'", "\"dq\"", "123", "45.6",
    "'x)y'", "''", "'MODIFIED'")

  private val rowsGen: Gen[Seq[Seq[String]]] = for {
    n <- Gen.choose(0, 12)
    rows <- Gen.listOfN(n, for {
      id <- Gen.choose(0, 15)
      v1 <- litGen
      v2 <- litGen
    } yield Seq(id.toString, v1, v2))
  } yield rows

  private val caseGen: Gen[(Seq[(String, Seq[Seq[String]])], Seq[(String, Seq[Seq[String]])])] =
    for {
      prodT1 <- rowsGen
      backT1 <- rowsGen
      prodOnly <- Gen.oneOf(true, false)
      backOnly <- Gen.oneOf(true, false)
      prodExtra <- rowsGen
      backExtra <- rowsGen
    } yield {
      val prod = Seq("t1" -> prodT1) ++ (if (prodOnly) Seq("ponly" -> prodExtra) else Nil)
      val back = Seq("t1" -> backT1) ++ (if (backOnly) Seq("bonly" -> backExtra) else Nil)
      (prod, back)
    }

  /** `n` seeded cases: (production tables, backup tables). */
  def samples(n: Int): Seq[(Seq[(String, Seq[Seq[String]])], Seq[(String, Seq[Seq[String]])])] = {
    var seed = org.scalacheck.rng.Seed(42L)
    (1 to n).map { _ =>
      val s = caseGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      s
    }
  }
}
