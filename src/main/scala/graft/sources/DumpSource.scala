package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

import graft.model.Stmt

/** Splittable SQL-dump statement source.
  *
  * The reference reads each dump wholly into driver memory and regex-scans
  * it repeatedly (/root/reference/sync.py:549-573, 43-44) — an ~11×-input
  * RSS, single-core design. Here the dump is read as Hadoop text records
  * delimited by ";\n": the file splits into independent byte-range chunks
  * across executors, and each record's starting byte offset is a stable
  * global statement-order key (SURVEY.md §7.4 — never rely on
  * `monotonically_increasing_id` for cross-partition order).
  *
  * `;\n` is the mysqldump statement terminator. A `;\n` inside a string
  * literal would mis-split — the same class of limitation as the
  * reference's non-greedy `(.*?);` regexes (sync.py:55), which truncate at
  * ANY `;`, so this source accepts a strict superset of real dumps the
  * reference handles.
  */
object DumpSource {

  private def delimited(conf: Configuration): Configuration = {
    conf.set("textinputformat.record.delimiter", ";\n")
    conf
  }

  def statements(spark: SparkSession, path: String): Dataset[Stmt] = {
    val conf = delimited(new Configuration(spark.sparkContext.hadoopConfiguration))
    // local-FS blocks are large; cap split size so a single dump file
    // still fans out across all cores. 4 MB (not the HDFS-ish 128 MB)
    // because the per-byte work here is regex tokenization, not IO — a
    // single-digit-MB dump must still parse on >1 core, and a straggling
    // oversized split serializes the whole parse stage.
    conf.set("mapreduce.input.fileinputformat.split.maxsize", "4194304")
    val rdd = spark.sparkContext
      .newAPIHadoopFile(path, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .map { case (off, text) => Stmt(off.get, text.toString) }
    spark.createDataset(rdd)(Encoders.product[Stmt])
  }

  /** The same statements in offset order, read on the calling thread
    * without Spark: [[statements]]'s `;\n` record reader over one
    * whole-file split, so texts and offsets are identical by
    * construction. `f` consumes the stream while the file is open; the
    * dump is never held whole.
    */
  def localStatements[T](path: String)(f: Iterator[Stmt] => T): T = {
    val conf = delimited(new Configuration())
    val fs = new Path(path).getFileSystem(conf)
    val p = fs.makeQualified(new Path(path))
    val split = new FileSplit(p, 0L, fs.getFileStatus(p).getLen,
      Array.empty[String])
    val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID())
    val reader = new TextInputFormat().createRecordReader(split, ctx)
    try {
      reader.initialize(split, ctx)
      f(new Iterator[Stmt] {
        private var ready = reader.nextKeyValue()
        def hasNext: Boolean = ready
        def next(): Stmt = {
          if (!ready) throw new NoSuchElementException(path)
          val st = Stmt(reader.getCurrentKey.get, reader.getCurrentValue.toString)
          ready = reader.nextKeyValue()
          st
        }
      })
    } finally reader.close()
  }
}
