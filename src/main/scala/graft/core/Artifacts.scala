package graft.core

import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * Memos hold parquet PATHS and scalars, never frames, so
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
    * [[dir]]; every call returns a fresh read of that parquet. */
  def parquet(s: SparkSession, d: String, name: String)(
      df: => DataFrame): DataFrame =
    s.read.parquet(memo(s, d, name) {
      val p = dir(name)
      df.write.mode("overwrite").parquet(p)
      p
    })
}
