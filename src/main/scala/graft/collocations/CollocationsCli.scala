package graft.collocations

import org.apache.spark.sql.SparkSession

/** Drop-in CLI for users of the reference job chain
  * (`CollocationExtraction3Jobs.java:22-40`: input corpora + output path
  * on the command line, TSV results on disk). Usage:
  *
  * {{{
  * spark-submit --class graft.collocations.CollocationsCli engine.jar \
  *   --unigrams p1[,p2,...] --bigrams p1[,p2,...] --out /path [--k 100]
  * }}}
  *
  * Reads reference-format n-gram TSV (lang inferred from each file's
  * path), runs the full scoring chain at (lang, decade) grain, and writes
  * the top-k collocations as TSV `lang \t decade \t "w1 w2" \t llr` with
  * the bigram space-joined into ONE field — byte-for-byte the reference
  * output line (`Job2.java:245`, re-emitted by `Job3.java:104-108`). The
  * session is owned by the caller/cluster (spark-submit); local runs get
  * a sensible default.
  */
object CollocationsCli {

  case class Args(unigrams: Seq[String], bigrams: Seq[String], out: String, k: Int)

  /** Argument errors fail LOUDLY before any cluster work: a typo'd,
    * dangling or repeated flag, an empty path or a non-positive k on a
    * 100 TB submit must kill the job at parse time, not silently drop an
    * input or run with a default. Every message names the flag. */
  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0,
      s"dangling argument '${argv.lastOption.getOrElse("")}': every flag takes a value")
    val flags = argv.grouped(2).map { case Array(k, v) => k -> v }.toSeq
    val known = Set("--unigrams", "--bigrams", "--out", "--k")
    val unknown = flags.map(_._1).toSet -- known
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.toSeq.sorted.mkString(", ")} (known: ${known.toSeq.sorted.mkString(", ")})")
    val repeated = flags.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(repeated.isEmpty,
      s"flag(s) given more than once: ${repeated.toSeq.sorted.mkString(", ")} " +
        "(list several paths as one comma-separated value)")
    val m = flags.toMap
    def paths(key: String): Seq[String] = {
      val v = m.getOrElse(key, sys.error(s"missing $key"))
      val ps = v.split(",", -1).toSeq
      require(ps.forall(_.trim.nonEmpty), s"$key has an empty path in '$v'")
      ps
    }
    val k = m.get("--k").fold(100) { v =>
      v.toIntOption.getOrElse(throw new IllegalArgumentException(s"--k must be an integer, got '$v'"))
    }
    require(k > 0, s"--k must be positive, got $k")
    Args(paths("--unigrams"), paths("--bigrams"), m.getOrElse("--out", sys.error("missing --out")), k)
  }

  def run(spark: SparkSession, args: Args): Unit = {
    import org.apache.spark.sql.functions._
    val top = NGramCollocations.fromPaths(spark, args.unigrams, args.bigrams, args.k)
      .select(col("lang"), col("decade"),
        concat_ws(" ", col("w1"), col("w2")).as("bigram"), col("llr"))
    graft.sources.Sinks.writeTsv(top, args.out)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = SparkSession.builder()
      .appName("graft-collocations")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try run(spark, args) finally spark.stop()
  }
}
