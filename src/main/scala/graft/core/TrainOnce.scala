package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Train-once memo for small trained artifacts (k-means codebooks,
  * hashed LM models, BPE tokenizers): the keyed result is computed
  * once and re-enters every consumer's plan, instead of being
  * re-derived inside every query that probes it.
  *
  * Two tiers:
  *
  *  - **memory** ([[cached]]): JVM-lifetime, collected rows (the
  *    artifacts are KB–MB by construction — bucket-bounded models,
  *    sample-trained codebooks).
  *  - **disk** ([[cachedOnDisk]] / [[artifactDir]]): the production
  *    shape — a trained model is a SHIPPED ARTIFACT (a tokenizer's
  *    merge file, a quantizer's codebook), persisted as parquet under
  *    [[artifactRoot]] and read (not retrained) by every later
  *    process: fresh bench fork JVMs, a scoring job running weeks
  *    after training, a different cluster reading the same artifact
  *    store. Writes are atomic (unique temp dir + rename), so a
  *    concurrent process sees either no artifact or a complete one.
  *
  * STALENESS: the driver regenerates the test datasets in place
  * between rounds, and production tables are rewritten under stable
  * paths too — a key carrying only the source PATH would serve a
  * model trained on the previous files. Disk-tier keys therefore fold
  * in [[TableIO.fingerprint]] of the source dir (relative path, size
  * and mtime of every file under it): regenerating the inputs changes
  * the fingerprint, which changes the key, which makes the next call
  * retrain. Old
  * artifacts are left behind (content-addressed stores don't mutate);
  * the artifact root is a cache dir, not a registry.
  *
  * Locking is per-key: concurrent misses on DIFFERENT keys train in
  * parallel instead of queueing behind one training job. `train` is
  * by-name — on a hit its plan is never built.
  */
object TrainOnce {

  private val cache = scala.collection.concurrent.TrieMap[String, Seq[Row]]()
  private val dirCache = scala.collection.concurrent.TrieMap[String, String]()
  private val locks = scala.collection.concurrent.TrieMap[String, Object]()

  /** Artifact store root. Env-overridable so a cluster points it at
    * shared storage; the default is host-local and shared across the
    * bench's fork children (env is inherited). */
  def artifactRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_DIR", "/tmp/graft_artifacts")

  private def lockFor(key: String): Object = locks.getOrElseUpdate(key, new Object)

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Memory tier only (JVM-lifetime). For artifacts whose inputs are
    * themselves session-local (spec fixtures); everything trained from
    * on-disk tables should use [[cachedOnDisk]]. */
  def cached(spark: SparkSession, key: String, schema: StructType)
      (train: => DataFrame): DataFrame = {
    val rows = cache.get(key) match {
      case Some(v) => v
      case None => lockFor(key).synchronized {
        cache.getOrElseUpdate(key, train.collect().toSeq)
      }
    }
    localFrame(spark, rows, schema)
  }

  /** Disk-tier artifact DIRECTORY keyed by `key` (callers fold in the
    * source fingerprint — [[cachedOnDisk]] does): if absent, `write`
    * populates a process-unique temp dir which is atomically renamed
    * in; a concurrent loser deletes its temp and reads the winner's.
    * Returns the live artifact path. For artifacts that are files or
    * file sets (the BPE merge list + vocab segmentation) rather than
    * one row set. */
  def artifactDir(key: String)(write: String => Unit): String =
    dirCache.get(key) match {
      case Some(p) => p
      case None => lockFor("dir:" + key).synchronized {
        dirCache.getOrElseUpdate(key, {
          val root = Paths.get(artifactRoot)
          Files.createDirectories(root)
          val live = root.resolve(md5Hex(key))
          if (!Files.exists(live)) {
            val tmp = root.resolve(s".${md5Hex(key)}.tmp-${ProcessHandle.current().pid()}")
            deleteRecursively(tmp)
            write(tmp.toString)
            try Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
            catch { // another process completed the same artifact first
              case _: java.nio.file.FileAlreadyExistsException => deleteRecursively(tmp)
              case _: java.nio.file.DirectoryNotEmptyException => deleteRecursively(tmp)
            }
          } else {
            // touch on first use per JVM: the dir mtime becomes a
            // last-USED stamp, so vacuum's TTL means "unused for T",
            // not "trained T ago" — a hot artifact never expires
            try Files.setLastModifiedTime(live,
              java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
            catch { case _: Exception => () }
          }
          live.toString
        })
      }
    }

  /** Garbage-collect the artifact tier: delete artifact dirs UNUSED
    * (by mtime — kept fresh by the touch-on-use above) for longer
    * than `ttlMillis`, skipping in-flight temp dirs and anything this
    * JVM resolved (in use by definition). Content-fingerprint keys
    * mean every testdata regeneration strands the previous artifacts
    * — without a vacuum the tier grows monotonically. A deleted
    * artifact is not an error: the next request retrains it (the
    * cachedOnDisk contract). Returns the number of dirs removed. */
  def vacuum(ttlMillis: Long): Int = {
    val root = Paths.get(artifactRoot)
    if (!Files.exists(root)) return 0
    // dirCache only protects artifacts THIS JVM resolved; a concurrent
    // process that resolved an artifact within the TTL window is covered
    // by the touch-on-use mtime stamp, not by this set — so ttlMillis
    // must exceed the longest plausible artifact-consumer run (the
    // cross-process contract; same assumption as any mtime-TTL GC).
    val inUse = dirCache.values.toSet
    val cutoff = System.currentTimeMillis() - ttlMillis
    var removed = 0
    val listing = Files.list(root)
    try {
      listing.forEach { p =>
        val name = p.getFileName.toString
        val stale = !name.startsWith(".") &&
          !inUse.contains(p.toString) &&
          Files.getLastModifiedTime(p).toMillis < cutoff
        if (stale) { deleteRecursively(p); removed += 1 }
      }
    } finally listing.close()
    removed
  }

  /** Disk tier for row-shaped artifacts: parquet under
    * [[artifactRoot]], keyed by (`key`, fingerprint of `srcDir`).
    * First call in the first process trains and persists; every later
    * call — same JVM (memory tier) or a fresh one (disk read) — loads
    * the artifact. Column order is pinned to `schema`. */
  def cachedOnDisk(spark: SparkSession, key: String, srcDir: String,
      schema: StructType)(train: => DataFrame): DataFrame = {
    val fullKey = s"$key@${TableIO.fingerprint(spark, srcDir)}"
    val rows = cache.get(fullKey) match {
      case Some(v) => v
      case None => lockFor(fullKey).synchronized {
        cache.getOrElseUpdate(fullKey, {
          val live = artifactDir(fullKey) { tmp =>
            // artifacts are KB–MB by construction: one file
            train.select(schema.fieldNames.map(col).toIndexedSeq: _*)
              .coalesce(1).write.parquet(tmp)
          }
          spark.read.schema(schema).parquet(live).collect().toSeq
        })
      }
    }
    localFrame(spark, rows, schema)
  }

  private def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }

  /** Test hook: forget the MEMORY tier (disk artifacts survive —
    * that's the point), so a spec can prove a fresh "process" reads
    * instead of retrains. */
  private[graft] def clearMemoryForTest(): Unit = { cache.clear(); dirCache.clear() }
}
