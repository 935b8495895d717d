// In-JVM side of the sync benchmark: the traced per-layer pass. Compiled
// by syncbench/run.py against the repository's classes; it calls only the
// layers' public functions.
package org.apache.spark.syncbench {
  /** Waits until every posted listener event has been delivered, so a
    * span's jobs, tasks and query executions are recorded before it
    * closes (`listenerBus` is `private[spark]`). */
  object BusDrain {
    def apply(sc: org.apache.spark.SparkContext): Unit =
      sc.listenerBus.waitUntilEmpty()
  }
}

package syncbench {

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, In, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.PendingRelease
import graft.codegen.SyncSqlGenerator
import graft.engine.{BucketedSync, SyncJob}
import graft.operators.{Curate, Dedup, TextOps}
import graft.parse.DumpParser
import graft.sources.DumpSource

object Util {
  /** The session the CLI builds (graft.cli.Main), pinned to `local[n]`. */
  def session(n: Int, warehouse: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("syncbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def now(): String = LocalDateTime.now.format(
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeJson(path: String, fields: Seq[(String, String)]): Unit =
    Files.write(Paths.get(path),
      fields.map { case (k, v) => s"${str(k)}: $v" }
        .mkString("{", ", ", "}\n").getBytes(UTF_8))
}

/** One traced interval: spans nest by call order on the driver thread. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L)

/** Spans plus a listener that charges Spark work to the innermost span
  * open when it happened. Everything is held in memory; [[counters]] turns
  * it into per-span totals once the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var op = 0

  // raw events, attributed to spans after the run
  private val jobAt = mutable.Map.empty[Int, Long]          // job -> time
  private val stageJob = mutable.Map.empty[Int, Int]        // stage -> job
  private val stagesRun = mutable.Set.empty[Int]
  private val taskAt = mutable.ArrayBuffer.empty[(Int, Array[Long])]
  private val plans = mutable.ArrayBuffer.empty[(Long, SparkPlan)]

  attach()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def nextOp(): Unit = op += 1

  def apply[T](name: String)(body: => T): (T, Span) = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      op, System.currentTimeMillis, System.nanoTime)
    spans += s
    open = s :: open
    try (body, s)
    finally {
      org.apache.spark.syncbench.BusDrain(spark.sparkContext)
      s.endNs = System.nanoTime
      s.endMs = System.currentTimeMillis
      open = open.tail
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobAt(e.jobId) = e.time
    e.stageIds.foreach(st => stageJob(st) = e.jobId)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stagesRun += e.stageInfo.stageId }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) taskAt += e.stageId -> Array(
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.jvmGCTime, m.executorCpuTime, m.resultSize)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized { plans += System.currentTimeMillis -> qe.executedPlan }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Innermost span whose interval holds `t` (ms), or -1. */
  private def spanAt(t: Long): Int = spans.filter(s =>
    s.startMs <= t && (s.endMs == 0L || t <= s.endMs))
    .sortBy(s => -s.startNs).headOption.map(_.id).getOrElse(-1)

  /** Span ids of `root` and every span nested in it. */
  def subtree(root: Span): Set[Int] = {
    val kids = spans.toSeq.groupBy(_.parent)
    def go(id: Int): Seq[Int] =
      id +: kids.getOrElse(id, Seq.empty).flatMap(s => go(s.id))
    go(root.id).toSet
  }

  private val Counters = Seq("jobs", "stages", "tasks", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "gc_ms", "executor_cpu_ns",
    "result_bytes")

  /** Counter totals per span id (charged to the innermost span). */
  def counters(): Map[Int, Map[String, Double]] = synchronized {
    val acc = mutable.Map.empty[Int, Array[Double]]
    def add(span: Int, i: Int, v: Double): Unit =
      acc.getOrElseUpdate(span, new Array[Double](Counters.size))(i) += v
    val jobSpan = jobAt.map { case (j, t) => j -> spanAt(t) }
    jobSpan.values.foreach(add(_, 0, 1))
    stagesRun.foreach(st =>
      add(stageJob.get(st).flatMap(jobSpan.get).getOrElse(-1), 1, 1))
    taskAt.foreach { case (st, m) =>
      val sp = stageJob.get(st).flatMap(jobSpan.get).getOrElse(-1)
      add(sp, 2, 1)
      m.indices.foreach(i => add(sp, 3 + i, m(i).toDouble))
    }
    acc.map { case (k, v) => k -> Counters.zip(v).toMap }.toMap
  }

  def total(root: Span, counter: String): Double = {
    val c = counters()
    subtree(root).toSeq.map(id => c.get(id).flatMap(_.get(counter)).getOrElse(0.0)).sum
  }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Query plans executed inside `root`'s interval. */
  def plansIn(root: Span): Seq[SparkPlan] = synchronized {
    plans.collect { case (t, p) if t >= root.startMs && t <= root.endMs => p }.toSeq
  }

  /** Every span with its self time (duration minus the time its direct
    * children cover) and its own counters, as a JSON array. */
  def spansJson(): String = {
    val c = counters()
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val self = seconds(s) - kids.getOrElse(s.id, Nil).map(seconds).sum
      val own = c.getOrElse(s.id, Map.empty)
      (Seq("id" -> s.id.toString, "name" -> Util.str(s.name),
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "seconds" -> Util.num(seconds(s)), "self_s" -> Util.num(self)) ++
        Counters.map(k => k -> Util.num(own.getOrElse(k, 0.0))))
        .map { case (k, v) => s"${Util.str(k)}: $v" }.mkString("{", ", ", "}")
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Plans {
  /** Every node of an executed plan, looking through adaptive wrappers
    * and into cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case i: InMemoryTableScanExec => i +: nodes(i.relation.cachedPlan)
    case o => o +: o.children.flatMap(nodes)
  }

  /** The row-diff joins: full outer joins keyed on `pk`. */
  def diffJoins(p: SparkPlan): Seq[SparkPlan] = nodes(p).collect {
    case j: BaseJoinExec if j.joinType == FullOuter &&
      j.leftKeys.exists(_.references.exists(_.name == "pk")) => j
  }

  def exchanges(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])

  /** Size of the literal table-name filter under `p` (the Merkle gate's
    * changed-table list), if there is one. */
  def tableFilterSize(p: SparkPlan): Option[Int] = nodes(p)
    .flatMap(_.expressions).flatMap(_.collect {
      case In(a: AttributeReference, l) if a.name == "table" => l.size
      case InSet(a: AttributeReference, s) if a.name == "table" => s.size
      case EqualTo(a: AttributeReference, _: Literal) if a.name == "table" => 1
    }).reduceOption(_ max _)
}

/** The traced per-layer pass over one seed's inputs.
  *
  *   Trace <result.json> <spans.json> <prod.sql> <backup.sql> <docsDir> <workDir> <cpus> <none|rediff>
  *
  * With `rediff` it also reports `trace.overhead_s`: a rediff with the
  * tracer attached minus one without.
  */
object Trace {
  def main(a: Array[String]): Unit = {
    val Array(out, spansOut, prod, backup, docsDir, work, cpus, overhead) = a
    val spark = Util.session(cpus.toInt, s"$work/warehouse")
    import spark.implicits._
    val m = mutable.LinkedHashMap.empty[String, Double]
    val inputMb = (new File(prod).length + new File(backup).length) / 1e6
    val now = Util.now()

    // one untraced sync first, so the spans time warm code, not the
    // session's first-job class loading and compilation
    val job = new SyncJob(spark)
    val autoOut = s"$work/trace_auto.sql"
    job.syncAuto(prod, backup, autoOut, now)
    val tr = new Tracer(spark)

    // sources: the splittable statement scan of both dumps
    tr.nextOp()
    val (nStmts, split) = tr("sources.split") {
      DumpSource.statements(spark, prod).count() +
        DumpSource.statements(spark, backup).count()
    }
    m("sources.split_s") = tr.seconds(split)
    m("sources.statements") = nStmts.toDouble
    m("sources.split_mb_per_s") = inputMb / tr.seconds(split)

    // parse: the record tokenizer over every statement, one thread
    val texts = Seq(prod, backup).map(p =>
      DumpSource.statements(spark, p).orderBy("off").as[graft.model.Stmt]
        .collect().map(_.text))
    val cats = texts.map(t => DumpParser.parseCatalog(t.iterator))
    tr.nextOp()
    val (nRecords, parse) = tr("parse.records_1t") {
      var n = 0L
      texts.zip(cats).foreach { case (ts, cat) =>
        ts.foreach { st =>
          DumpParser.parseInsert(st) match {
            case Some((table, valuesPart)) if cat.contains(table) =>
              DumpParser.splitValueSets(valuesPart).foreach { vs =>
                DumpParser.pkString(DumpParser.splitValues(vs), cat(table))
                n += 1
              }
            case _ =>
          }
        }
      }
      n
    }
    val textMb = texts.map(_.map(_.getBytes(UTF_8).length.toLong).sum).sum / 1e6
    m("parse.mb_per_s_1t") = textMb / tr.seconds(parse)
    m("parse.records") = nRecords.toDouble

    // engine: SyncJob's stages one at a time, then the CLI's route
    tr.nextOp()
    val (catsE, catSpan) = tr("engine.catalog") {
      Seq(prod, backup).map(p => job.catalog(DumpSource.statements(spark, p)))
    }
    m("engine.catalog_s") = tr.seconds(catSpan)
    val (_, recSpan) = tr("engine.records") {
      Seq(prod, backup).zip(catsE).foreach { case (p, c) =>
        job.records(DumpSource.statements(spark, p), c)
          .write.format("noop").mode("overwrite").save()
      }
    }
    m("engine.records_s") = tr.seconds(recSpan)
    val (_, diffSpan) = tr("engine.diff") {
      job.opsFrame(prod, backup).write.format("noop").mode("overwrite").save()
    }
    m("engine.diff_s") = tr.seconds(diffSpan)
    tr.nextOp()
    val ((outcome, parts), syncSpan) = tr("engine.sync") {
      job.syncAuto(prod, backup, autoOut, now)
    }
    require(parts.isEmpty, "syncAuto took the distributed route")
    m("engine.sync_s") = tr.seconds(syncSpan)
    m("engine.jobs") = tr.total(syncSpan, "jobs")
    m("engine.stages") = tr.total(syncSpan, "stages")
    m("engine.tasks") = tr.total(syncSpan, "tasks")
    m("engine.shuffle_write_mb") = tr.total(syncSpan, "shuffle_write_bytes") / 1e6
    m("engine.shuffle_read_mb") = tr.total(syncSpan, "shuffle_read_bytes") / 1e6
    m("engine.spill_mb") = tr.total(syncSpan, "spill_bytes") / 1e6
    m("engine.gc_s") = tr.total(syncSpan, "gc_ms") / 1e3
    m("engine.executor_cpu_s") = tr.total(syncSpan, "executor_cpu_ns") / 1e9
    m("engine.driver_result_mb") = tr.total(syncSpan, "result_bytes") / 1e6
    val st = outcome.stats.values
    val nOps = st.map(s => s.missingCount + s.updatedCount + s.deletedCount).sum
    m("engine.changed_ratio") =
      nOps.toDouble / st.map(s => s.productionCount + s.deletedCount).sum

    // codegen: the driver-side script assembly over the collected ops
    tr.nextOp()
    val collected = job.run(prod, backup)
    val (script, render) = tr("codegen.render") {
      SyncSqlGenerator.assemble(collected, now)
    }
    m("codegen.render_s") = tr.seconds(render)
    m("codegen.script_mb") = script.getBytes(UTF_8).length / 1e6
    m("codegen.lines") = script.count(_ == '\n') + 1.0
    Files.write(Paths.get(s"$work/trace_assemble.sql"), script.getBytes(UTF_8))

    // bucketed: snapshot writes, the fingerprint gate, the rediff
    tr.nextOp()
    val (_, snap) = tr("bucketed.snapshot") {
      BucketedSync.snapshot(spark, prod, "bench_prod")
      BucketedSync.snapshot(spark, backup, "bench_backup")
    }
    m("bucketed.snapshot_s") = tr.seconds(snap)
    m("bucketed.snapshot_write_mb") =
      Util.dirBytes(new File(s"$work/warehouse")) / 1e6
    val (fresh, gate) = tr("bucketed.gate") {
      Seq(BucketedSync.ensureSnapshot(spark, prod, "bench_prod"),
        BucketedSync.ensureSnapshot(spark, backup, "bench_backup"))
    }
    require(!fresh.exists(identity), "fingerprint gate missed")
    m("bucketed.gate_s") = tr.seconds(gate)
    val ((_, rediffScript), rediff) = tr("bucketed.rediff") {
      job.syncFromBucketed("bench_prod", "bench_backup", prod, now)
    }
    m("bucketed.rediff_s") = tr.seconds(rediff)
    Files.write(Paths.get(s"$work/trace_rediff.sql"), rediffScript.getBytes(UTF_8))
    val joins = tr.plansIn(rediff).flatMap(Plans.diffJoins)
    require(joins.nonEmpty, "no full-outer diff join in the rediff")
    m("bucketed.rediff_exchanges") = joins.map(Plans.exchanges).sum.toDouble
    val common = catsE(0).keySet.intersect(catsE(1).keySet).size
    m("bucketed.tables_diffed_ratio") = joins.flatMap(Plans.tableFilterSize)
      .reduceOption(_ max _).getOrElse(common).toDouble / common

    // operators: q179's six stages, each stage's eager count in a span
    tr.nextOp()
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def cached(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(lvl)
      PendingRelease.defer(() => { p.unpersist(); () })
      (p, p.count())
    }
    val (nPairs, dagSpan) = tr("operators.dag") {
      val docs = graft.Tables.documents(spark, docsDir)
        .select("doc_id", "text", "source")
      val ((gated, _), s1) = tr("operators.gate") {
        cached(docs.select(col("doc_id"), col("text"), col("source"),
          TextOps.gopherRules(col("text")).last)
          .filter(col("gopher_score") >= 4).drop("gopher_score"))
      }
      val ((exact, _), s2) = tr("operators.exact_dedup") {
        cached(gated.withColumn("keeper", min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col("text").cast("binary")))))
          .filter(col("doc_id") === col("keeper")).drop("keeper"))
      }
      val ((pairs, nPairs), s3) = tr("operators.lsh_pairs") {
        cached(Dedup.minhashLshPairs(exact, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
          .select("id_a", "id_b"))
      }
      val ((split, _), s4) = tr("operators.split") {
        cached(Curate.leakageAwareSplit(exact, col("doc_id"), pairs,
          Seq(("train", 80), ("val", 10), ("test", 10))))
      }
      val train = split.filter(col("split") === "train")
        .select("doc_id", "text", "source")
      val ((mixed, _), s5) = tr("operators.mixture") {
        cached(Curate.mixToBudget(train, "source", col("doc_id"),
          weights = Seq("src0" -> 1L, "src1" -> 1L, "src2" -> 8L),
          budget = 100L, shards = 64))
      }
      val (_, s6) = tr("operators.packing") {
        val stream = mixed.join(train.select(col("doc_id"),
            size(graft.functions.Portable.tokens(col("text"))).as("n_tok")),
            Seq("doc_id"))
          .withColumn("copy", explode(sequence(lit(1L), col("copies"))))
          .select((col("doc_id") * 1000L + col("copy")).as("mid"), col("n_tok"))
        Curate.packingReport(Curate.packSequences(stream, "mid", col("n_tok"),
          capacity = 2048L, shards = 8), capacity = 2048L).collect()
      }
      PendingRelease.drain()
      Seq("gate" -> s1, "exact_dedup" -> s2, "lsh_pairs" -> s3,
        "split" -> s4, "mixture" -> s5, "packing" -> s6)
        .foreach { case (k, s) => m(s"operators.${k}_s") = tr.seconds(s) }
      nPairs
    }
    m("operators.jobs") = tr.total(dagSpan, "jobs")
    m("operators.tasks") = tr.total(dagSpan, "tasks")
    m("operators.shuffle_mb") = (tr.total(dagSpan, "shuffle_write_bytes") +
      tr.total(dagSpan, "shuffle_read_bytes")) / 1e6
    m("operators.lsh_pairs") = nPairs.toDouble

    tr.detach()

    // tracing overhead of the resync workload's rediff, in the order
    // untraced, traced, traced, untraced so a steady warm-up trend cancels
    if (overhead == "rediff") {
      def rediffOnce(): Double = {
        val w0 = System.nanoTime
        job.syncFromBucketed("bench_prod", "bench_backup", prod, now)
        (System.nanoTime - w0) / 1e9
      }
      def traced(): Double = {
        tr.attach()
        tr.nextOp()
        val s = tr("bucketed.rediff")(rediffOnce())._2
        tr.detach()
        tr.seconds(s)
      }
      val (u1, t1, t2, u2) = (rediffOnce(), traced(), traced(), rediffOnce())
      m("trace.overhead_s") = (t1 + t2 - u1 - u2) / 2
    }

    Files.write(Paths.get(spansOut), tr.spansJson().getBytes(UTF_8))
    Util.writeJson(out, m.toSeq.map { case (k, v) => k -> Util.num(v) })
    spark.stop()
  }
}
}
