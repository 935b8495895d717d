package graft.engine

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory

import graft.model.TableMeta
import graft.parse.DumpParser
import graft.sources.DumpSource

/** The driver-local sync route: the same outcome as [[SyncJob.run]],
  * computed on the calling thread with no SparkSession. For a dump pair
  * that fits the driver heap, a Spark session's start-up and job
  * scheduling cost several times the diff itself.
  *
  * Each dump is read twice through [[DumpSource.localStatements]] (the
  * distributed scan's record reader, so statement texts and offsets are
  * identical): once for the catalog, once for the common tables' rows.
  * Rows go through the shared [[DumpParser.insertRows]] into one hash
  * map per table — last value wins, first position orders, as in
  * [[SyncJob.records]]'s window — and each common table is diffed by
  * hash lookups. Rendering is [[graft.codegen.SyncSqlGenerator.assemble]],
  * the oracle every Spark route is pinned byte-equal to.
  */
object LocalSync {

  /** Input bytes the route accepts per byte of driver heap: the live set
    * measured about 5× the input, so 1/16 leaves room for the script and
    * garbage.
    */
  val HeapPerInputByte = 16L

  /** Both dumps are plain local files whose combined size is at most
    * `heapBytes / HeapPerInputByte`. A compressed dump never fits: its
    * file size does not bound the decoded text.
    */
  def fits(paths: Seq[String],
      heapBytes: Long = Runtime.getRuntime.maxMemory): Boolean = {
    val codecs = new CompressionCodecFactory(new Configuration())
    paths.forall(p => Files.isRegularFile(Paths.get(p)) &&
      codecs.getCodec(new Path(p)) == null) &&
      paths.map(p => Files.size(Paths.get(p))).sum <=
        heapBytes / HeapPerInputByte
  }

  /** A record after last-wins dedup: order key from its first
    * occurrence, values from its last.
    */
  private final class Rec(val off: Long, val row: Int, var vals: Seq[String])

  private def catalogInfo(path: String): CatalogInfo =
    DumpSource.localStatements(path)(it =>
      CatalogInfo.of(it.filter(st => CatalogInfo.isCreate(st.text)).toSeq))

  private def records(path: String, cat: Map[String, TableMeta])
      : Map[String, mutable.HashMap[String, Rec]] = {
    val byTable = cat.map { case (t, _) => t -> mutable.HashMap.empty[String, Rec] }
    DumpSource.localStatements(path)(_.foreach { st =>
      DumpParser.insertRows(st, cat).foreach { r =>
        val recs = byTable(r.table)
        recs.get(r.pk) match {
          case Some(rec) => rec.vals = r.vals
          case None => recs(r.pk) = new Rec(r.off, r.row, r.vals)
        }
      }
    })
    byTable
  }

  /** [[SyncJob.run]]'s outcome for the pair, ops included. */
  def run(prodPath: String, backupPath: String): SyncOutcome = {
    val prodInfo = catalogInfo(prodPath)
    val prodCat = prodInfo.metas
    val backupCat = catalogInfo(backupPath).metas
    val commonTables = prodCat.keys.filter(backupCat.contains).toSeq
    val missingTables = prodCat.keys.filterNot(backupCat.contains).toSeq
    val extraTables = backupCat.keys.filterNot(prodCat.contains).toSeq
    val prodRecs = records(prodPath, prodCat.view.filterKeys(backupCat.contains).toMap)
    val backupRecs = records(backupPath, backupCat.view.filterKeys(prodCat.contains).toMap)
    val overheads = SyncJob.opOverheads(prodCat, backupCat)
    // Spark's length(): characters, not UTF-16 units
    def opBytes(op: String, t: String, vals: Seq[String]): Long =
      vals.iterator.map(v => v.codePointCount(0, v.length) + 2L).sum +
        overheads(op)(t)

    val ops = Seq.newBuilder[DiffOp]
    val stats = commonTables.flatMap { t =>
      val p = prodRecs(t)
      val b = backupRecs(t)
      var ins, upd, del, bytes = 0L
      p.foreach { case (pk, pr) =>
        val br = b.get(pk)
        val op = br match {
          case None => ins += 1; Differ.OP_INSERT
          case Some(r) if r.vals != pr.vals => upd += 1; Differ.OP_UPDATE
          case _ => null
        }
        if (op != null) {
          ops += DiffOp(t, pk, op, pr.off, pr.row, Some(pr.vals),
            br.map(_.vals), Some(DumpParser.rawInsert(t, pr.vals)))
          bytes += opBytes(op, t, pr.vals)
        }
      }
      b.foreach { case (pk, br) =>
        if (!p.contains(pk)) {
          del += 1
          ops += DiffOp(t, pk, Differ.OP_DELETE, br.off, br.row, None,
            Some(br.vals), None)
          bytes += opBytes(Differ.OP_DELETE, t, br.vals)
        }
      }
      // like the Spark routes' per-table aggregate: no rows, no entry
      if (p.isEmpty && b.isEmpty) None
      else Some(t -> TableStats(t, p.size, b.size, ins, upd, del, bytes))
    }.toMap
    SyncOutcome(prodCat, backupCat, missingTables, extraTables, commonTables,
      stats, ops.result(), CatalogInfo.createSections(prodPath,
        prodInfo.firstCreatePos, prodInfo.stmtEnd, missingTables))
  }
}
