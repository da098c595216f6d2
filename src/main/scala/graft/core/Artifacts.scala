package graft.core

import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}

/** The one artifact store: every directory the engine writes (persisted
  * query artifacts, query scratch, fixture tables, the session warehouse)
  * lives under one root in `java.io.tmpdir`, and the root is deleted once,
  * when the JVM exits.
  *
  * Memoized artifacts are built inside the first query that needs them
  * and served to every later consumer in the same application. Each
  * consumer's DuckDB oracle still recomputes from the raw tables, so every
  * green row re-proves table-derived ≡ recomputed. The memo key is
  * `applicationId | corpus | name`: a new SparkContext rebuilds, and
  * nothing is reused across sessions. ASSUMES the corpus at `d` is
  * immutable for the session (bench/verify fixtures are); a corpus
  * mutated at the same path would be served the stale artifact.
  *
  * Memos hold parquet PATHS, schemas and scalars, never frames, so
  * [[StorageHygiene.drainAll]] between queries never truncates a lineage
  * an artifact still depends on. */
object Artifacts {

  /** Hadoop runs shutdown hooks in descending priority. Spark registers
    * its own hook (which stops the SparkContext) at
    * `FileSystem.SHUTDOWN_HOOK_PRIORITY + 30`, so this one runs after it:
    * no task is still writing under the root when it is deleted. */
  private val DeletePriority =
    org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile),
      DeletePriority)
    r
  }

  /** A fresh, empty directory under the root — never shared, so callers
    * may commit into it (the snapshot fixtures do). */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  private val memos = TrieMap.empty[String, Any]

  /** `build` once per (application, corpus, name). */
  def memo[T](s: SparkSession, d: String, name: String)(build: => T): T =
    memos.getOrElseUpdate(
      s"${s.sparkContext.applicationId}|$d|$name", build).asInstanceOf[T]

  /** `df` written once per (application, corpus, name) into a fresh
    * [[dir]]; every call returns a fresh [[readParquet]] of it. */
  def parquet(s: SparkSession, d: String, name: String)(
      df: => DataFrame): DataFrame =
    readParquet(s, memo(s, d, name) {
      val p = dir(name)
      df.write.mode("overwrite").parquet(p)
      p
    })

  /** A fresh read of the parquet file or directory at `p`, with its schema
    * resolved once per application: a plain `spark.read.parquet` infers
    * the schema anew on every call, and that inference is a Spark job.
    * The schema is the one Spark's own inference gives without schema
    * merging, read on the driver from one footer: that of the first data
    * file by path, skipping `_*` and `.*` entries. */
  def readParquet(s: SparkSession, p: String): DataFrame =
    s.read.schema(memo(s, p, "#schema") {
      val conf = s.sessionState.newHadoopConf()
      val fs = new HPath(p).getFileSystem(conf)
      def files(st: FileStatus): Seq[FileStatus] =
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(st.getPath).toSeq
          .filterNot(c => "_.".contains(c.getPath.getName.head)).flatMap(files)
      files(fs.getFileStatus(new HPath(p))).minByOption(_.getPath.toString)
        .fold(s.read.parquet(p).schema) { f => // none: Spark's own error
          val footer = ParquetFooterReader.readFooter(HadoopInputFile
            .fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
            new ParquetToSparkSchemaConverter(s.sessionState.conf))
        }
    }).parquet(p)
}
