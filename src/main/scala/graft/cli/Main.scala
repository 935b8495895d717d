package graft.cli

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession

import graft.codegen.SyncSqlGenerator
import graft.engine.{LocalSync, SyncJob}
import graft.report.SummaryReporter

/** CLI with the reference's argv contract (/root/reference/sync.py:629-642):
  *
  *   graft.cli.Main [production.sql] [backup.sql] [output.sql]
  *
  * defaulting to prod.sql / backup.sql / database_sync_crud.sql.
  *
  * The default sync of two small plain local dumps runs driver-local
  * ([[graft.engine.LocalSync]]) and never starts Spark — see
  * [[localRoute]]. Every other input takes the Spark routes below, whose
  * scripts are byte-identical.
  *
  * `--distributed-out <dir>` writes the script as part files under
  * `<dir>` (SyncJob.syncDistributed): one `part-00000` for a diff within
  * the collected-script gate, the executor-rendered text sink past it —
  * the at-scale path. The sorted parts concatenate to the single-file
  * script plus a final newline.
  *
  * `--state <dir>` enables the repeated-sync fast path: both dumps are
  * snapshotted as bucketed tables under `<dir>` (fingerprint-gated, so
  * an unchanged dump is never re-parsed), and the diff runs as the
  * Merkle-gated changed-tables-only exchange-free rediff
  * (engine.BucketedSync). The script is byte-identical to the default
  * path; the second sync against the same dumps costs the digest scan,
  * not the parse.
  *
  * `--schema-diff` switches to report-only mode: print the column-level
  * schema evolution between the dumps (engine.SchemaDiff — columns
  * added/dropped/retyped, PK changes) and exit without generating a
  * sync script.
  *
  * `--history <stateDir> <table> [pk]` switches to the temporal report:
  * SCD-2 validity runs (engine.Scd) over the versioned snapshots a
  * DumpWatchSync watcher wrote under `stateDir` — every value a row held
  * and for which version range, optionally filtered to one pk.
  *
  * `--vacuum <stateDir> [keepLast]` reclaims superseded per-version
  * watcher state (old snapshots / stats / open-history frames), keeping
  * the newest `keepLast` (default 1) of each family; the maintained
  * SCD-2 history losslessly encodes every vacuumed version, so time
  * travel still works afterwards.
  *
  * `--gate-vacuum <stateDir>` reclaims a streaming dedup gate's raw
  * batch dirs at/below the SECOND-newest committed compaction mark
  * (the documented replay floor — [[graft.streaming.StreamingDedup
  * .vacuum]]); pairs, manifests, and projections are never touched.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val rc = run(args)
    if (rc != 0) sys.exit(rc)
  }

  private def usage(msg: String): Int = {
    Console.err.println(s"❌ Usage: $msg")
    1
  }

  /** The value after `flag`, with both removed from `args`; Left(exit
    * code) when the flag is the last argument.
    */
  private def flagValue(args: Array[String], flag: String)
      : Either[Int, (Option[String], Array[String])] = {
    val i = args.indexOf(flag)
    if (i < 0) Right((None, args))
    else if (i + 1 >= args.length) Left(usage(s"$flag <dir>"))
    else Right((Some(args(i + 1)), args.patch(i, Nil, 2)))
  }

  /** The default sync runs driver-local ([[graft.engine.LocalSync]], no
    * SparkSession) when both dumps are small plain local files, unless
    * the run asked for a Spark event log — that log is the artifact it
    * wants, so Spark runs.
    */
  private[graft] def localRoute(prodFile: String, backupFile: String,
      props: collection.Map[String, String] = sys.props,
      heapBytes: Long = Runtime.getRuntime.maxMemory): Boolean =
    !props.get("spark.eventLog.enabled").exists(_.trim.equalsIgnoreCase("true")) &&
      LocalSync.fits(Seq(prodFile, backupFile), heapBytes)

  /** The one session shape of every Spark mode of the CLI: the master
    * and shuffle partitions from `SPARK_MASTER` / `SPARK_GRAFT_CPUS`,
    * UTC, no UI, WARN logging; `warehouse` moves the warehouse dir (the
    * `--state` dir, so snapshots outlive the process).
    */
  private def session(appName: String,
      warehouse: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = warehouse.fold(builder)(d =>
      builder.config("spark.sql.warehouse.dir",
        Paths.get(d).toAbsolutePath.toString)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Writes a driver-held script to `outputFile`, making missing parent
    * dirs as `SyncJob.syncAuto`'s Hadoop create does.
    */
  private def writeScript(outputFile: String, script: String): Unit = {
    val out = Paths.get(outputFile).toAbsolutePath
    Files.createDirectories(out.getParent)
    Files.write(out, script.getBytes("UTF-8"))
    println(s"\n💾 Sync script written to: $outputFile")
  }

  /** The CLI; returns the process exit code. */
  def run(rawArgs: Array[String]): Int = {
    val vacIdx = rawArgs.indexOf("--vacuum")
    if (vacIdx >= 0) {
      if (vacIdx + 1 >= rawArgs.length)
        return usage("--vacuum <stateDir> [keepLast]")
      val stateDir = rawArgs(vacIdx + 1)
      val keep = rawArgs.lift(vacIdx + 2).flatMap(_.toIntOption).getOrElse(1)
      val deleted = graft.streaming.DumpWatchSync.vacuum(stateDir, keep)
      println(s"Vacuumed ${deleted.size} superseded state " +
        (if (deleted.size == 1) "directory" else "directories") +
        s" (kept newest $keep per family):")
      deleted.foreach(d => println(s"  $d"))
      return 0
    }
    val gvIdx = rawArgs.indexOf("--gate-vacuum")
    if (gvIdx >= 0) {
      if (gvIdx + 1 >= rawArgs.length)
        return usage("--gate-vacuum <stateDir>")
      val stateDir = rawArgs(gvIdx + 1)
      val spark = session("graft-gate-vacuum")
      try {
        val deleted = graft.streaming.StreamingDedup.vacuum(spark, stateDir)
        println(s"Vacuumed ${deleted.size} raw batch " +
          (if (deleted.size == 1) "directory" else "directories") +
          " at/below the second-newest compaction mark:")
        deleted.foreach(d => println(s"  $d"))
      } finally spark.stop()
      return 0
    }
    val histIdx = rawArgs.indexOf("--history")
    if (histIdx >= 0) {
      if (histIdx + 2 >= rawArgs.length)
        return usage("--history <stateDir> <table> [pk]")
      val stateDir = rawArgs(histIdx + 1)
      val table = rawArgs(histIdx + 2)
      val pk = rawArgs.lift(histIdx + 3)
      val spark = session("graft-history")
      try {
        val hist = graft.engine.Scd.historyFromState(spark, stateDir, table, pk)
          .collect()
        println(s"History for `$table`${pk.fold("")(p => s" pk=$p")}:")
        if (hist.isEmpty) println("  (no runs)")
        else hist.foreach { r =>
          val vals = r.getAs[Seq[String]]("vals").mkString(", ")
          val to = Option(r.get(r.fieldIndex("ver_to")))
            .map(_.toString).getOrElse("current")
          println(s"  pk=${r.getAs[String]("pk")} [v${r.getAs[Long]("ver_from")}" +
            s" → $to): ($vals)")
        }
      } finally spark.stop()
      return 0
    }
    val (distributedOut, args1) = flagValue(rawArgs, "--distributed-out") match {
      case Right(v) => v
      case Left(rc) => return rc
    }
    val (stateDir, args0) = flagValue(args1, "--state") match {
      case Right(v) => v
      case Left(rc) => return rc
    }
    val schemaDiffOnly = args0.contains("--schema-diff")
    val args = args0.filterNot(_ == "--schema-diff")

    val prodFile = if (args.length >= 2) args(0) else "prod.sql"
    val backupFile = if (args.length >= 2) args(1) else "backup.sql"
    val outputFile = if (args.length >= 3) args(2) else "database_sync_crud.sql"

    for (f <- Seq(prodFile, backupFile)) {
      if (!Files.exists(Paths.get(f))) {
        Console.err.println(s"❌ Error: File not found: $f")
        return 1
      }
    }

    val now = LocalDateTime.now.format(
      DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    if (!schemaDiffOnly)
      println(s"Comparing SQL dumps:\n  Production: $prodFile\n  Backup: $backupFile")
    if (!schemaDiffOnly && distributedOut.isEmpty && stateDir.isEmpty &&
        localRoute(prodFile, backupFile)) {
      val outcome = LocalSync.run(prodFile, backupFile)
      // a diff past the collected-script gate goes to syncAuto's
      // distributed sink below, as it would on the Spark route
      if (SyncJob.collectable(outcome)) {
        SummaryReporter.print(outcome)
        writeScript(outputFile, SyncSqlGenerator.assemble(outcome, now))
        return 0
      }
    }

    // --state: snapshots live under the state dir as the warehouse, so
    // they survive across CLI invocations
    val spark = session("graft-sync", stateDir)

    try {
      if (schemaDiffOnly) {
        // report-only mode: column-level schema evolution, no sync script
        val changes = graft.engine.SchemaDiff.diffDumps(spark, prodFile, backupFile)
        println(s"Schema diff (production vs backup):")
        if (changes.isEmpty) println("  (no column-level changes)")
        else changes.foreach { c =>
          val detail = (c.prodType, c.backupType) match {
            case (Some(p), Some(b)) => s" $b -> $p"
            case (Some(p), None) => s" $p"
            case (None, Some(b)) => s" $b"
            case _ => ""
          }
          println(s"  ${c.table}.${c.column}: ${c.change}$detail")
        }
        return 0
      }
      (distributedOut, stateDir) match {
        case (Some(dir), _) =>
          val outcome = new SyncJob(spark).syncDistributed(
            prodFile, backupFile, dir, now)
          SummaryReporter.print(outcome)
          println(s"\n💾 Sync script parts written to: $dir")
        case (None, Some(_)) =>
          // bucketed fast path: parse each dump at most once per content
          // (fingerprint-gated snapshots in the state dir), then a
          // Merkle-gated changed-tables-only exchange-free rediff —
          // script byte-identical to the default route's
          val freshP = graft.engine.BucketedSync.ensureSnapshot(
            spark, prodFile, "graft_state_prod")
          val freshB = graft.engine.BucketedSync.ensureSnapshot(
            spark, backupFile, "graft_state_backup")
          println(s"  State: prod snapshot ${if (freshP) "written" else "reused"}, " +
            s"backup snapshot ${if (freshB) "written" else "reused"}")
          val (outcome, script) = new SyncJob(spark).syncFromBucketed(
            "graft_state_prod", "graft_state_backup", prodFile, now)
          SummaryReporter.print(outcome)
          writeScript(outputFile, script)
        case (None, None) =>
          // size-routed default: executor-rendered script either way;
          // small diffs collect to the single file (reference parity),
          // diffs past SyncJob.DefaultMaxCollectedOps auto-route to the
          // distributed text sink at <output>.parts so the driver never
          // holds a diff-sized script
          val (outcome, partsDir) =
            new SyncJob(spark).syncAuto(prodFile, backupFile, outputFile, now)
          SummaryReporter.print(outcome)
          partsDir match {
            case Some(dir) => println(
              s"\n💾 Sync script parts written to: $dir (op count above " +
                s"${SyncJob.DefaultMaxCollectedOps}; concatenate sorted " +
                "parts for the single-file script)")
            case None => println(s"\n💾 Sync script written to: $outputFile")
          }
      }
      0
    } finally spark.stop()
  }
}
