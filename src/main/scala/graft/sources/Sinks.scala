package graft.sources

import org.apache.spark.sql.DataFrame

/** Sinks (SURVEY §2.1 S6/S7). The reference writes tab-separated text and
  * fans one reducer out to two named outputs (`DATA` + `N` subdirs via
  * MultipleOutputs); Spark-native form is simply two writes of two derived
  * DataFrames — each write is a separate job over the (cached or cheap)
  * upstream, and partitioned layout replaces filename conventions.
  */
object Sinks {

  /** Reference-format TSV (no header, \t separator). */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("sep", "\t").option("header", "false").csv(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** ORC — the other columnar format Spark ships natively; same predicate
    * pushdown / column pruning contract as parquet (asserted in tests). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Partitioned parquet: directory layout carries the partition column
    * (the scalable replacement for lang-from-path conventions). */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** The reference Job1 fan-out: DATA (per-word counts) and N (grand
    * totals) written side by side (`CollocationExtraction3Jobs.java:64-65`,
    * `Constants.java:4-5`). N derives from the cached counts, so the
    * corpus is scanned once for both sinks: the two writes are two actions,
    * and exchange reuse cannot share work across actions. The cache is
    * released on every exit path, a failed write included. */
  def writeCollocationOutputs(docs: DataFrame, outRoot: String): Unit = {
    import graft.collocations.Collocations
    import org.apache.spark.sql.functions.{col, sum}
    val u = Collocations.unigramCounts(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      writeTsv(u, s"$outRoot/data")
      writeTsv(u.groupBy("lang").agg(sum(col("c")).as("n")), s"$outRoot/n")
    } finally u.unpersist()
  }

  /** Near-atomic model publish for the serve-many model directories
    * (classifier weights, BPE merges, IVF centroids, diff digests): the
    * new artifact materializes FULLY under `dir + ".staging"`, and only
    * then replaces the serving directory as two renames — the old target
    * moves aside to `dir + ".old"` and staging moves in — with the slow
    * recursive delete deferred until after the path is live again. A
    * concurrent per-micro-batch reader can race only the two-rename
    * window (microseconds), never a half-written parquet directory or the
    * multi-file delete that a delete-then-rename publish exposes; readers
    * that do lose the race should retry once (see `readRetry`). (A truly
    * atomic swap needs an indirection the deployment owns — versioned
    * dirs plus a repointed path; this helper is the strongest publish a
    * fixed path allows.) */
  def publishSwap(dir: String)(write: String => Unit): Unit = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    import java.util.Comparator
    def rmTree(p: Path): Unit =
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    val staging = Paths.get(dir + ".staging")
    val old     = Paths.get(dir + ".old")
    val target0 = Paths.get(dir)
    // CRASH RECOVERY before touching anything: a prior publish that died
    // between its two renames leaves target missing and `.old` holding
    // the only good model — restore it FIRST. Deleting `.old` up front
    // would otherwise destroy that last surviving copy before the new
    // write has even succeeded (a failed write would then leave no model
    // at all).
    if (!Files.exists(target0) && Files.exists(old))
      Files.move(old, target0, StandardCopyOption.ATOMIC_MOVE)
    rmTree(staging)
    write(staging.toString)
    // only now — with the new artifact fully materialized — is the old
    // fallback disposable
    rmTree(old)
    val target = Paths.get(dir)
    if (Files.exists(target)) Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    rmTree(old)
  }

  /** Read-side guard for the two-rename window of [[publishSwap]]: retry
    * the read a few times with a short backoff before giving up, so a
    * per-micro-batch model re-read (QualityStream.gate, DiffStream
    * .monitor, indexed serve twins) landing exactly between the two
    * renames degrades to a millisecond stall instead of killing the
    * streaming query. */
  def readRetry[A](attempts: Int = 5, backoffMs: Long = 20)(read: => A): A = {
    var left    = attempts
    var backoff = backoffMs
    var out     = Option.empty[A]
    while (out.isEmpty) {
      try out = Some(read)
      catch {
        case e: Exception if left > 1 =>
          left -= 1
          Thread.sleep(backoff)
          backoff *= 2
      }
    }
    out.get
  }
}
