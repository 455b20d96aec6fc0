package graft
import org.apache.spark.sql.SparkSession

/** Registry-wide micro-benchmark with CROSS-RUN CARRY-FORWARD.
  *
  * The round-14 post-mortem: at 200+ registry queries, no single 900 s
  * budget fits one cold sweep plus the >= 3 warm samples the med/min
  * agreement criterion needs behind every heavy-tier median (~280 s of
  * minima per warm pass). Instead of silently under-sampling, the bench
  * persists its per-query samples to `bench_state.json` and each run
  * RESUMES the estimator: warm samples carry across runs (same machine,
  * same sf, same cpus), and a per-query PLAN FINGERPRINT decides
  * staleness — a query whose optimized plan changed since the state was
  * written drops its history and re-measures from scratch, so carried
  * readings can never describe code that no longer exists.
  *
  * Per run:
  *  - sweep 1 cold-samples EVERY query (so each run still contributes a
  *    fresh same-JVM minimum and validates every fingerprint — the
  *    fingerprint is read off the very DataFrame the sample executed,
  *    costing only a toString), EXCEPT that a SETTLED query skips
  *    execution on alternate runs keyed per-query (name parity XOR run
  *    parity — half the settled set skips on any run, each query
  *    re-measures at least every other run) and validates its
  *    fingerprint from the built-but-never-executed frame, or for
  *    checkpoint-opaque plans from the source-tree hash alone (see
  *    `skipSweep1` — the headroom lever after the honest noop basis
  *    made a full sweep cost its ~450 s; skipped HEAVY queries enter
  *    the gate ratio on carried floors and are disclosed in the
  *    artifact's `skipped_heavy` provenance);
  *  - convergence passes then touch ONLY queries that still need data:
  *    zero warm samples anywhere, or heavy (min > 0.5 s) with fewer than
  *    3 warm samples, or heavy with warm-median/min > 1.3 (a margin
  *    inside the 1.5 gate — e.g. when this run's colder/faster floor
  *    broke a carried agreement);
  *  - the updated state is rewritten atomically at every emit, so even a
  *    killed run leaves a strictly-better estimator for the next one.
  *
  * Fingerprint: md5 of the optimized logical plan text normalized for
  * every JVM-volatile token class (see [[normalizePlan]] — the
  * canonicalized plan is NOT cross-JVM stable). Plans that hide their
  * upstream behind a checkpoint/RDD scan (`LogicalRDD`/`ExistingRDD` —
  * the composed pretrain pipelines) would be BLIND to upstream code
  * changes, so their fingerprint additionally folds in a hash of the
  * whole graft source tree: any code change re-measures them. A query
  * whose fingerprint cannot be computed never carries, and a heavy query
  * whose carried floor this JVM cannot reproduce within 1.4x discards
  * its history and re-derives from this run alone.
  */
object Bench {

  /** `stale` counts CONSECUTIVE runs whose fresh samples never came
    * within 1.4x of the carried floor — at 2 the sub-floor samples age
    * out of the written state (see the aging note on `writeState`).
    * `floorRun` is PROVENANCE: the bench-run counter at which the
    * currently-retained minimum was first observed (or last re-derived
    * after an aging/reset cut) — published per min1 offender so a reader
    * can tell a stale floor from a real regression; 0 = unknown
    * (pre-provenance state file). */
  private case class Carried(fp: String, samples: Vector[Double], warm: Vector[Double],
                             stale: Int = 0, floorRun: Int = 0)

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Plan text normalized for every JVM-volatile token class — each
    * class below was found by diffing full-registry optimized-plan dumps
    * from two JVMs, iterating until zero diffs:
    *  - an InMemoryRelation's innerChildren — the cached PHYSICAL plan —
    *    are CUT: that text is a runtime AQE snapshot
    *    (TableCacheQueryStage placeholders vs expanded isFinalPlan
    *    subtrees) that varies with machine load, not with the query
    *    (measured r19: identical code, 76/237 fingerprints flapped when
    *    a concurrent build loaded the machine). The relation's own line
    *    (output attrs + storage level) stays; [[planFingerprint]] folds
    *    srcHash for cache-bearing plans so code changes still
    *    re-measure them;
    *  - expression ids (#123L), monotonic plan/codegen/AQE-stage ids,
    *    object identity hashes, serialized lambda identities;
    *  - filesystem paths (index/model roots are per-process temp dirs);
    *  - distinct-aggregate gid assignment order (RewriteDistinctAggregates
    *    iterates an identity-ordered expression set): gid-bearing lines
    *    reduce to their sorted token multiset with digits neutralized;
    *  - line order overall (sorted before hashing) — the same rewrite
    *    also permutes projection lists.
    * Sorting lines weakens structure sensitivity slightly; the failure
    * mode (a stale carried timing) is self-healing because every run
    * cold-samples every query and re-measures on med/min disagreement. */
  private[graft] def normalizePlan(raw: String): String = {
    // cached-subtree cut: skip every line nested deeper than an
    // InMemoryRelation line (tree depth = first char outside the
    // " :+-" drawing prefix), resuming at the first sibling/ancestor
    val cut = {
      val sb = new StringBuilder
      var skipIndent = -1
      raw.linesIterator.foreach { l =>
        val idx = l.indexWhere(c => c != ' ' && c != ':' && c != '+' && c != '-')
        val d = if (idx < 0) l.length else idx
        if (skipIndent < 0 || d <= skipIndent) {
          // node name starts AFTER the tree-drawing prefix (": +- ")
          skipIndent = if (d < l.length && l.startsWith("InMemoryRelation", d)) d else -1
          sb.append(l).append('\n')
        }
      }
      sb.toString
    }
    val scrubbed = cut
      .replaceAll("#\\d+L?", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\$\\$+Lambda\\$\\d+/0x[0-9a-fA-F]+", "Lambda")
      .replaceAll("QueryStage \\d+", "QueryStage x")
      .replaceAll("\\*\\(\\d+\\)", "*(x)")
      .replaceAll("@[0-9a-fA-F]{4,}", "@x")
      .replaceAll("cte\\w*\\d+", "cteX")
      .replaceAll("file:[^\\s,\\])}]+", "<path>")
      .replaceAll("/[A-Za-z0-9_./-]*(tmp|testdata)[A-Za-z0-9_./-]*", "<path>")
    // higher-order-function lambda VARIABLE NAMES (`lambda x_40#x`)
    // draw on a session-global fresh-name counter, so the printed
    // number depends on how many lambda-bearing frames were built
    // earlier in the session — with the parity skip that build set
    // varies per run (measured r19: the 48 flapping fingerprints were
    // exactly the HOF-using queries). The exprId scrub misses the
    // NAME's counter; renumber each DISTINCT variable by first
    // occurrence in the (pre-sort, deterministic) plan text — a single
    // collapsed token would make two plans differing only in WHICH of
    // several lambda variables a body position references normalize
    // identically (a fingerprint-collision surface that could carry a
    // stale floor across a real plan change).
    val lambdaNormed = {
      val m = java.util.regex.Pattern.compile("lambda ([A-Za-z0-9]+_\\d+)").matcher(scrubbed)
      val seen = scala.collection.mutable.LinkedHashMap[String, String]()
      val sb = new StringBuffer
      while (m.find()) {
        val repl = seen.getOrElseUpdate(m.group(1), s"v${seen.size + 1}")
        m.appendReplacement(sb, "lambda " + repl)
      }
      m.appendTail(sb)
      sb.toString
    }
    lambdaNormed.split('\n').map { l0 =>
      val l = l0.trim
      if (l.contains("gid#"))
        l.replaceAll("\\b\\d+\\b", "n").split("[\\s,\\[\\]()]+").sorted.mkString(" ")
      else l
    }.sorted.mkString("\n")
  }

  /** Cross-JVM-stable fingerprint of a query's optimized plan. Three
    * plan shapes are OPAQUE — blind (fully or partly) to upstream code
    * changes — and fingerprint as a constant base plus `srcHash` (a hash
    * of the source tree) so any code change re-measures them: plans that
    * hide their upstream behind a checkpoint/RDD scan
    * (`LogicalRDD`/`ExistingRDD`), plans whose ROOT is a LocalRelation —
    * the driver computed the entire result before the frame existed (the
    * observe-telemetry report rows), and LocalRelation text prints no
    * row values — and plans carrying an `InMemoryRelation`, whose
    * rendered cached subtree is a load-volatile AQE snapshot. A
    * LocalRelation merely INSIDE a plan (a broadcast literal model, a
    * probe set) does not make it opaque — the surrounding plan text
    * still captures structure and is hashed directly. */
  /** True for the three OPAQUE plan shapes (see [[planFingerprint]]). */
  private[graft] def isOpaquePlan(raw: String): Boolean = {
    val rootIsLocal = raw.linesIterator.hasNext &&
      raw.linesIterator.next().trim.startsWith("LocalRelation")
    raw.contains("LogicalRDD") || raw.contains("ExistingRDD") || rootIsLocal ||
      raw.contains("InMemoryRelation")
  }

  private[graft] def planFingerprint(df: org.apache.spark.sql.DataFrame,
                                     srcHash: String): String = {
    val raw = df.queryExecution.optimizedPlan.toString
    if (isOpaquePlan(raw)) {
      // OPAQUE plans hash a CONSTANT base, not their text: the rendered
      // text cannot be made load-stable — expression literals embed real
      // newlines (`split(text, "\n")` prints its literal as a line
      // break), so any indentation-walk cut of a cached subtree leaks at
      // the continuation lines and readmits the AQE snapshot (measured
      // r19: the one query still flapping after the subtree cut leaked
      // exactly this way). The constant loses nothing: fingerprints are
      // only ever compared per query name, and every non-code input that
      // could change such a plan is separately guarded (sf dir and cpu
      // count by the state header, code by srcHash). A missing source
      // tree must DISABLE carrying for exactly these plans — an empty
      // fingerprint is the never-carry token everywhere downstream; a
      // stable "nosrc" suffix would instead carry stale timings forever
      // on a bare-classes deployment.
      if (srcHash == "nosrc") "" else md5("opaque-plan") + "+" + srcHash
    } else md5(normalizePlan(raw))
  }

  /** Greedy fit of pre-rendered JSON items into one array of at most
    * `budget` bytes (brackets included); items kept in order,
    * whole-or-not-at-all. Returns (renderedArray, keptCount). */
  private[graft] def fitJsonItems(items: Seq[String], budget: Int): (String, Int) = {
    val sb = new StringBuilder("[")
    var kept = 0
    for (it <- items) {
      val add = it.length + (if (kept == 0) 0 else 1)
      if (sb.length + add + 1 <= budget) {
        if (kept > 0) sb.append(',')
        sb.append(it)
        kept += 1
      }
    }
    sb.append(']')
    (sb.toString, kept)
  }

  /** The final compact stdout line, always <= maxBytes. The per-query
    * map is the DRIVER CONTRACT (its per-query PERF comparison reads
    * exactly this line), so it gets FIRST claim on the byte budget after
    * the scalar head — up to `qReserveMax` bytes, slowest-first — and
    * the provenance lists split the remainder, each item-truncated to
    * what still fits with the remaining lists' empty forms reserved.
    * This fixes the r20 defect where `min1_offender_detail` plus the
    * aged/reset name lists (header growth from an inherited commit)
    * consumed the whole 1800-byte budget before any query could be
    * inlined: the line emitted `"queries":{}` and the driver's
    * per-query channel went blind (4 spurious dropped_from_bench).
    * Every list's UNCAPPED count is published as a scalar in the head,
    * so truncation here is disclosed, and the full lists always live in
    * bench_full.json. */
  private[graft] def compactLine(scalarHead: String,
                                 lists: Seq[(String, Seq[String])],
                                 queryEntries: Seq[String],
                                 maxBytes: Int = 1800,
                                 qReserveMax: Int = 700): String = {
    val emptyListsCost = lists.map { case (k, _) => k.length + 6 }.sum // "k":[],
    val tailFixed = s""""omitted":${queryEntries.size},"queries":""".length + 1
    val qBudget = math.max(2, math.min(qReserveMax,
      maxBytes - scalarHead.length - emptyListsCost - tailFixed))
    val (qArr, qKept) = fitJsonItems(queryEntries, qBudget)
    val qJson = "{" + qArr.substring(1, qArr.length - 1) + "}"
    val tail = s""""omitted":${queryEntries.size - qKept},"queries":$qJson}"""
    var rem = maxBytes - scalarHead.length - tail.length
    val listsStr = lists.zipWithIndex.map { case ((k, items), i) =>
      // every not-yet-rendered list must still fit at least its empty form
      val remainingEmpty = lists.drop(i + 1).map { case (k2, _) => k2.length + 6 }.sum
      val (arr, _) = fitJsonItems(items, rem - (k.length + 4) - remainingEmpty)
      val s = s""""$k":$arr,"""
      rem -= s.length
      s
    }.mkString
    scalarHead + listsStr + tail
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.envCpus
    // Upper bound on passes, not a fixed sweep count: passes beyond the
    // first touch only queries whose estimator still needs samples, so a
    // high cap is safe — the budget gates.
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_SWEEPS", "10").toInt
    // wall-clock budget for the WHOLE run: sweep 1 always completes (it is
    // the minimum useful measurement), later passes start only while under
    // budget, so the process exits cleanly inside the driver's gate instead
    // of being killed mid-sweep with nothing on stdout (the round-6 DNF)
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "900").toDouble
    val wall0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wall0) / 1e9
    val spark = LocalSession(cpus)
    // warm the JVM/codegen/scan paths so the first measured query doesn't
    // carry session bootstrap cost
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // build-once artifacts (dedup index, persisted models) are warmup, not
    // measurement: the serve-only registry lambda is what every sweep times
    SparkEntry.prepare(spark, sfDir)

    // ---------------------------------------------------------- fingerprints
    // Hash of every main-source file — folded into the fingerprint of
    // checkpoint-opaque plans (see the scaladoc). Missing source tree
    // (e.g. a bare-classes deployment) disables carrying for those.
    val srcHash: String =
      try {
        val root = java.nio.file.Paths.get("src/main/scala")
        if (!java.nio.file.Files.exists(root)) "nosrc"
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val walk = java.nio.file.Files.walk(root)
          try {
            val files = new java.util.ArrayList[java.nio.file.Path]()
            walk.filter(p => p.toString.endsWith(".scala")).forEach(p => { files.add(p); () })
            files.sort(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
            files.forEach { p =>
              md.update(p.toString.getBytes("UTF-8"))
              md.update(java.nio.file.Files.readAllBytes(p))
            }
          } finally walk.close()
          md.digest().map("%02x".format(_)).mkString
        }
      } catch { case _: Throwable => "nosrc" }

    // ---------------------------------------------------------- state I/O
    // Keyed by (sf dir, cpu count): carrying across a different dataset
    // or core count would mix estimators of different quantities. The
    // r20 defect fixed here: the file held ONE profile, so the driver's
    // 8-core scaling run CLOBBERED the 32-core floor history (the
    // committed r20 state ended cpus=8/run=1 with single cold samples) —
    // the next 32-core run would re-measure all 237 queries from
    // scratch, and the 8-core runs themselves never accumulated floors,
    // so the scaling probe compared one cold sweep against converged
    // minima. The file now holds one profile per (sf, cpus): a run
    // adopts only its own profile and preserves every other verbatim,
    // so both core counts converge independently across rounds.
    val statePath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_STATE", "bench_state.json"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val profileKey = s"$sfDir|$cpus"
    def profileMatches(node: com.fasterxml.jackson.databind.JsonNode): Boolean =
      node.path("sf").asText("") == sfDir && node.path("cpus").asText("") == cpus &&
        node.path("measure").asText("") == "noop"
    def parseProfile(node: com.fasterxml.jackson.databind.JsonNode): (Map[String, Carried], Int) = {
      val qs = node.path("queries")
      val out = scala.collection.mutable.Map[String, Carried]()
      val it = qs.fieldNames()
      while (it.hasNext) {
        val n = it.next()
        val q = qs.path(n)
        def vec(field: String): Vector[Double] = {
          val arr = q.path(field)
          (0 until arr.size()).map(arr.get(_).asDouble()).toVector
        }
        out(n) = Carried(q.path("fp").asText(""), vec("samples"), vec("warm"),
          q.path("stale").asInt(0), q.path("floor_run").asInt(0))
      }
      (out.toMap, node.path("run").asInt(0) + 1)
    }
    val (carried: Map[String, Carried], thisRun: Int, otherProfiles: Seq[(String, String)]) =
      try {
        if (!java.nio.file.Files.exists(statePath))
          (Map.empty[String, Carried], 1, Seq.empty[(String, String)])
        else {
          val root = mapper.readTree(java.nio.file.Files.readAllBytes(statePath))
          if (root.has("profiles")) {
            val profs = root.path("profiles")
            val others = {
              val b = Seq.newBuilder[(String, String)]
              val it = profs.fieldNames()
              while (it.hasNext) {
                val k = it.next()
                if (k != profileKey) b += (k -> profs.get(k).toString)
              }
              b.result()
            }
            val own = profs.path(profileKey)
            if (!own.isMissingNode && profileMatches(own)) {
              val (c, r) = parseProfile(own)
              (c, r, others)
            } else (Map.empty[String, Carried], 1, others)
          } else if (profileMatches(root)) {
            // legacy single-profile file for this very profile: adopt it
            val (c, r) = parseProfile(root)
            (c, r, Seq.empty[(String, String)])
          } else {
            // legacy file for a DIFFERENT (sf, cpus): preserve it as its
            // own profile instead of clobbering it (the r20 failure mode)
            val legacyKey = root.path("sf").asText("") + "|" + root.path("cpus").asText("")
            val keep = if (root.path("sf").asText("").nonEmpty)
              Seq(legacyKey -> root.toString) else Seq.empty[(String, String)]
            (Map.empty[String, Carried], 1, keep)
          }
        }
      } catch { case _: Throwable => (Map.empty[String, Carried], 1, Seq.empty[(String, String)]) }

    val names = SparkEntry.queries.toSeq.sortBy(_._1)

    // fresh (this-run) samples; fingerprints validated at first sample
    val freshSamples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val freshWarm = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val fpNow = scala.collection.mutable.Map[String, String]()

    // Carried history DROPPED mid-run: a heavy query whose carried
    // minimum this JVM cannot reproduce within 1.4x even after several
    // fresh warm samples is measuring machine drift, not estimator
    // disagreement (the r14 A/B measured ~1.4x JVM-to-JVM floor spread
    // on exactly this tier) — its history stops describing this machine
    // and is discarded, so min and median re-derive from this run alone.
    val reset = scala.collection.mutable.Set[String]()

    // a query's history carries ONLY once its fingerprint is validated
    // against this run's plan; before its first sample we are optimistic
    // (mid-sweep-1 checkpoint emits are provisional by design)
    def fpOk(n: String): Boolean = !reset.contains(n) && (carried.get(n) match {
      case None => false
      case Some(c) => fpNow.get(n) match {
        case None     => true
        case Some(fp) => fp.nonEmpty && fp == c.fp
      }
    })
    def allSamples(n: String): Vector[Double] =
      (if (fpOk(n)) carried(n).samples else Vector.empty) ++ freshSamples(n)
    def warmSamples(n: String): Vector[Double] =
      (if (fpOk(n)) carried(n).warm else Vector.empty) ++ freshWarm(n)

    // MIN over every successful sample, carried + fresh: noise on a fixed
    // plan is strictly additive (GC, JIT deopt, CPU contention only ever
    // ADD time), so every extra sample can only improve the estimator.
    // MEDIAN over WARM samples only — sweep 1 of each JVM is the
    // JIT/codegen warmup pass, its readings stay visible in the min.
    def curMin(n: String): Double = {
      val ok = allSamples(n).filter(_ >= 0)
      if (ok.isEmpty) Double.MaxValue else ok.min
    }
    // REPRODUCED floor: the second-smallest successful sample. With
    // carry-forward a query accumulates 7-20 samples, and the true min
    // becomes an extreme order statistic — a floor seen ONCE and never
    // approached again (measured r15: dedup_winnow_overlap samples
    // [1.30, 1.89, 2.09, 2.09, 2.16, ...] — the 1.30 is a window
    // artifact) says nothing about convergence. Published per-query
    // minima stay true minima; the agreement ratio reads the floor that
    // was reproduced at least twice.
    def curMin2(n: String): Double = {
      val ok = allSamples(n).filter(_ >= 0).sorted
      if (ok.isEmpty) Double.MaxValue else ok(math.min(1, ok.size - 1))
    }

    // CROSS-ROUND FLOOR AGING: the mid-run `reset` only fires for queries
    // that enter the convergence tier; a query converged under the
    // reproduced floor (med/min2 <= 1.3) never re-enters it, so an
    // irreproducible all-time MIN would otherwise persist forever and keep
    // the raw min1 ratio inflated (measured r15: 2.01 vs the 1.36 gate).
    // Decision per query, recomputed at every (crash-safe) state write
    // from THIS run's fresh samples: if the carried floor sits below
    // freshMin/1.4 — the same 1.4x JVM-floor-spread threshold the mid-run
    // reset uses — the run is a stale vote (stale+1), else the counter
    // clears. At 2 consecutive stale votes the sub-floor carried samples
    // age out of the WRITTEN state (the in-memory estimator is untouched:
    // this run still publishes the old min honestly; the NEXT run starts
    // clean). A mid-run write may over-count by one vote if the run dies
    // before its warm samples approach the floor — bounded, conservative
    // (ages one round early), and corrected by the end-of-run write.
    // Returns (staleOut, ageCutOpt).
    def ageDecision(n: String): (Int, Option[Double]) = {
      val freshOk = freshSamples(n).filter(_ >= 0)
      val carriedOk = if (fpOk(n)) carried(n).samples.filter(_ >= 0) else Vector.empty
      val staleBefore = if (fpOk(n)) carried(n).stale else 0
      if (freshOk.isEmpty || carriedOk.isEmpty) (staleBefore, None)
      else {
        val cut = freshOk.min / 1.4
        if (carriedOk.min < cut) {
          val staleNow = staleBefore + 1
          if (staleNow >= 2) (0, Some(cut)) else (staleNow, None)
        } else (0, None)
      }
    }
    def agedNames: Seq[String] =
      names.collect { case (n, _) if ageDecision(n)._2.isDefined => n }

    // FLOOR PROVENANCE: the run at which the currently-published minimum
    // was set. The carried floor_run survives only while the carried
    // history still owns the overall min AND wasn't reset this run; a
    // fresh sample beating it (or an aging/reset cut re-deriving the
    // floor) stamps this run. 0 = carried from a pre-provenance state
    // file (honest "unknown", never fabricated).
    def floorRunOf(n: String): Int = {
      val freshOk = freshSamples(n).filter(_ >= 0)
      val carriedOk = if (fpOk(n)) carried(n).samples.filter(_ >= 0) else Vector.empty
      if (carriedOk.nonEmpty && (freshOk.isEmpty || carriedOk.min <= freshOk.min))
        carried(n).floorRun
      else thisRun
    }

    def writeState(): Unit =
      try {
        val sb = new StringBuilder
        sb.append(s"""{"format":"profiles","profiles":{"$profileKey":""")
        sb.append(s"""{"sf":"$sfDir","cpus":"$cpus","measure":"noop","run":$thisRun,"updated_ms":${System.currentTimeMillis()},"queries":{""")
        var first = true
        for ((n, _) <- names) {
          val fp = fpNow.getOrElse(n, if (fpOk(n)) carried(n).fp else "")
          val (staleOut, ageCut) = ageDecision(n)
          // an aging cut re-derives the floor from what survives — its
          // provenance is this run, not the aged sample's
          val floorRunOut = if (ageCut.isDefined) thisRun else floorRunOf(n)
          val ssAll = ageCut match {
            case Some(cut) => allSamples(n).filter(v => v < 0 || v >= cut)
            case None      => allSamples(n)
          }
          val wsAll = ageCut match {
            case Some(cut) => warmSamples(n).filter(v => v < 0 || v >= cut)
            case None      => warmSamples(n)
          }
          // keep the last 20 samples per list — bounds file growth across
          // arbitrarily many rounds — but never drop the retained MIN:
          // truncation alone would let a query's published floor silently
          // RISE once its oldest (fastest) sample fell off the window
          val kept = ssAll.takeRight(20)
          val okAll = ssAll.filter(_ >= 0)
          val ss = if (okAll.nonEmpty && !kept.contains(okAll.min))
                     okAll.min +: kept.takeRight(19)
                   else kept
          val ws = wsAll.takeRight(20)
          if (fp.nonEmpty && ss.nonEmpty) {
            if (!first) sb.append(",")
            first = false
            sb.append(s""""$n":{"fp":"$fp","samples":[${ss.mkString(",")}],"warm":[${ws.mkString(",")}],"stale":$staleOut,"floor_run":$floorRunOut}""")
          }
        }
        sb.append("}}")
        for ((k, raw) <- otherProfiles) sb.append(s""","$k":$raw""")
        sb.append("}}\n")
        val tmp = java.nio.file.Files.createTempFile(
          statePath.toAbsolutePath.getParent, ".benchstate", ".json")
        java.nio.file.Files.write(tmp, sb.toString.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, statePath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case _: Throwable => () } // a read-only cwd must not kill the bench

    // FAIL SOFT: a cumulative, fully-parseable result line after every
    // pass (and periodically inside passes), stdout flushed — a timeout
    // kill at any point still leaves the driver the latest complete
    // estimate. The full line also rewrites bench_full.json atomically;
    // the final compact line (< 1.8 kB) is what the driver's ~2 kB
    // stdout tail parses.
    def jsonMap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json"))
    def writeFull(line: String): Unit =
      try {
        val tmp = java.nio.file.Files.createTempFile(
          outPath.toAbsolutePath.getParent, ".bench", ".json")
        java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, outPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case _: Throwable => () }

    // SWEEP-1 TIERING (r18, re-keyed r19): once the honest noop basis
    // made sweep 1 cost its full ~450 s, the 900 s driver budget left too
    // few convergence passes. A query whose estimator is already SETTLED
    // — carried fingerprint, no pending stale vote, >= 3 warm samples,
    // warm median within 1.3x of the reproduced floor — skips EXECUTION
    // on alternate runs and keeps its carried floor/median (disclosed per
    // offender as `skipped` provenance). Two r18 defects fixed here:
    //  - the alternation was keyed on `thisRun % 2`, so a driver that
    //    always landed on odd runs got zero skips forever (r18 run 13
    //    skipped 0). It now keys on per-query name parity XOR run parity:
    //    on EVERY run half the settled set skips and the other half
    //    re-measures, and each individual query re-measures at least
    //    every other run — starvation-proof by construction.
    //  - only sub-second queries were eligible, but the load worth
    //    shedding is the settled HEAVY tier (the 8-query pretrain family
    //    alone is ~168 s/sweep vs ~61 s for the whole sub-second tier).
    //    Weight no longer gates eligibility; heavy queries skip under
    //    exactly the same settled criterion, halving the family's
    //    per-run cost while every floor stays per-query fresh within 2
    //    runs. (This also retires the r18 contract mismatch where
    //    0.5-1.0 s floors were "heavy" for the gate but "light" for the
    //    skip.)
    // A query with a stale vote pending never skips (aging needs this
    // run's fresh samples to confirm or clear the vote), and a changed
    // plan always falls through to a full measurement.
    val sweep1Skipped = scala.collection.mutable.Set[String]()
    // queries the post-convergence min1-offender pass re-executed this
    // run (published so a floor movement is attributable to it)
    val offenderRemeasured = scala.collection.mutable.Set[String]()
    def skipSweep1(n: String): Boolean =
      (thisRun + math.floorMod(n.hashCode, 2)) % 2 == 0 && (carried.get(n) match {
        case Some(c) if c.fp.nonEmpty && c.stale == 0 =>
          val ok = c.samples.filter(_ >= 0)
          val ws = c.warm.filter(_ >= 0).sorted
          ok.nonEmpty && ws.size >= 3 && {
            val min2 = ok.sorted.apply(math.min(1, ok.size - 1))
            min2 > 0 && ws(ws.size / 2) / min2 <= 1.3
          }
        case _ => false
      })

    var gcNanos = 0L

    def emit(sweepsDone: Int): Unit = {
      val sampled = names.filter { case (n, _) => allSamples(n).nonEmpty }
      // min over SUCCESSFUL samples; -1 only when every sample failed
      val results = sampled.map { case (name, _) =>
        val ok = allSamples(name).filter(_ >= 0)
        name -> (if (ok.isEmpty) -1.0 else ok.min)
      }
      val spreads = sampled.map { case (name, _) =>
        val ts = allSamples(name).filter(_ >= 0)
        name -> (if (ts.isEmpty || ts.min <= 0) -1.0
                 else BigDecimal(ts.max / ts.min).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      // (upper) median over warm samples, falling back to all samples for
      // queries that have none yet (new queries mid-run)
      val medians = sampled.map { case (name, _) =>
        val ws = warmSamples(name).filter(_ >= 0)
        val ts = (if (ws.nonEmpty) ws else allSamples(name).filter(_ >= 0)).sorted
        name -> (if (ts.isEmpty) -1.0
                 else BigDecimal(ts(ts.size / 2)).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      // Self-reported convergence: worst med/min over min > 0.5 s queries
      // (the round gate reads <= 1.5 off the artifact itself), plus the
      // count of heavy queries still lacking 3 warm samples (the gate's
      // second clause, also self-reported)
      val medOf = medians.toMap
      // the gate ratio reads the REPRODUCED floor (see curMin2); the raw
      // min-based ratio is emitted alongside for transparency
      val worstHot = results.collect {
        case (n, v) if v > 0.5 && medOf.getOrElse(n, -1.0) > 0 && curMin2(n) > 0 &&
          curMin2(n) != Double.MaxValue => medOf(n) / curMin2(n)
      }.foldLeft(0.0)(math.max)
      val worstHotMin1 = results.collect {
        case (n, v) if v > 0.5 && medOf.getOrElse(n, -1.0) > 0 => medOf(n) / v
      }.foldLeft(0.0)(math.max)
      val heavyWarmLt3 = results.count { case (n, v) =>
        v > 0.5 && warmSamples(n).count(_ >= 0) < 3
      }
      // queries whose published min1 ratio exceeds the gate bar — named in
      // the artifact so a floor the aging hasn't cleared yet is disclosed,
      // never hidden behind the floor2 gate ratio
      val min1Offenders = results.collect {
        case (n, v) if v > 0.5 && medOf.getOrElse(n, -1.0) > 0 && medOf(n) / v > 1.5 => n
      }
      val min1OffendersJson = min1Offenders.take(20).map("\"" + _ + "\"").mkString("[", ",", "]")
      // per-offender floor PROVENANCE: which run set the published floor
      // (0 = pre-provenance state), where the aging counter stands, and
      // whether this run SKIPPED the query's sweep-1 execution (its
      // floor/median are carried, not reproduced this run) — a reader
      // can now tell "floor set 5 runs ago, one stale vote already"
      // (aging will clear it) from "floor set this run" (a real
      // median/floor disagreement worth investigating), and a carried
      // ratio from a freshly-reproduced one
      val min1DetailItems = min1Offenders.take(20).map { n =>
        val (staleOut, ageCut) = ageDecision(n)
        val age = if (ageCut.isDefined) "aged_now"
                  else if (staleOut > 0) s"stale_vote_$staleOut" else "current"
        s"""{"q":"$n","floor_run":${floorRunOf(n)},"age":"$age","skipped":${sweep1Skipped.contains(n)}}"""
      }
      val min1DetailJson = min1DetailItems.mkString("[", ",", "]")
      // heavy queries (the gate ratio's population) whose sweep-1 was
      // skipped this run: their floors entered the gate from carried
      // state — named so the denominator's provenance stays auditable
      val skippedHeavy = sampled.collect {
        case (n, _) if sweep1Skipped.contains(n) && curMin(n) != Double.MaxValue &&
          allSamples(n).exists(_ >= 0) && allSamples(n).filter(_ >= 0).min > 0.5 =>
          s"""{"q":"$n","floor_run":${floorRunOf(n)}}"""
      }
      val skippedHeavyJson = skippedHeavy.take(40).mkString("[", ",", "]")
      // aged/reset PROVENANCE BY NAME: the counts alone (`floor_aged`,
      // `floor_reset`) can't tell a reader WHICH floors moved without
      // diffing bench_state.json — publish the names (capped at 40; the
      // counts disclose any truncation since they are uncapped)
      val agedQueriesJson = agedNames.take(40).map("\"" + _ + "\"").mkString("[", ",", "]")
      val resetQueriesJson = reset.toSeq.sorted.take(40).map("\"" + _ + "\"").mkString("[", ",", "]")
      val remeasuredJson = offenderRemeasured.toSeq.sorted.take(40)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val carriedN = names.count { case (n, _) => fpOk(n) && carried(n).samples.nonEmpty }
      // an EMPTY current fingerprint is "not validated", not "changed" —
      // counting it as changed would misreport a transient sweep-1 failure
      val fpChangedList = names.collect { case (n, _)
        if carried.contains(n) && fpNow.get(n).exists(fp => fp.nonEmpty && fp != carried(n).fp) => n }
      val fpChanged = fpChangedList.size
      val fpChangedNames = fpChangedList.take(40).map("\"" + _ + "\"").mkString("[", ",", "]")
      val failed = results.filter(_._2 < 0).map(_._1)
      val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val total = results.map(_._2).filter(_ >= 0).sum
      val totalMedian = medians.map(_._2).filter(_ >= 0).sum
      val full = s"""{"metric":"total","value":$total,"unit":"sec","bench_schema":5,"ratio_denominator":"floor2","action":"noop_write","queries":${jsonMap(results)},"median":${jsonMap(medians)},"total_median":${BigDecimal(totalMedian).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"spread":${jsonMap(spreads)},"sweeps":$sweepsDone,"warmup_sweeps":1,"worst_hot_ratio":${BigDecimal(worstHot).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"worst_hot_ratio_min1":${BigDecimal(worstHotMin1).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"min1_offenders":$min1OffendersJson,"min1_offender_detail":$min1DetailJson,"bench_run":$thisRun,"floor_aged":${agedNames.size},"floor_aged_queries":$agedQueriesJson,"heavy_warm_lt3":$heavyWarmLt3,"carried":$carriedN,"fp_changed":$fpChanged,"fp_changed_queries":$fpChangedNames,"floor_reset":${reset.size},"floor_reset_queries":$resetQueriesJson,"offender_remeasured":$remeasuredJson,"sweep1_skipped":${sweep1Skipped.size},"skipped_heavy":$skippedHeavyJson,"skipped_heavy_n":${skippedHeavy.size},"sampled":${sampled.size},"of":${names.size},"wall_s":${BigDecimal(elapsedS).setScale(1, BigDecimal.RoundingMode.HALF_UP)},"gc_s":${BigDecimal(gcNanos / 1e9).setScale(1, BigDecimal.RoundingMode.HALF_UP)},"failed":${failed.size},"failed_queries":$failedJson,"sf":"$sfDir"}"""
      println(full)
      writeFull(full)
      writeState()
      // FINAL COMPACT LINE, always last and always < 1800 bytes: the
      // per-query map (failed entries first, then slowest-first) is
      // budgeted BEFORE the provenance lists — see compactLine. The
      // full map always lives in the "full" file.
      val rounded = results
        .map { case (n, v) => n -> (if (v < 0) -1.0 else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      val slowestFirst = rounded.sortBy { case (_, v) => if (v < 0) Double.MinValue else -v }
      val failedNames = failed.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
      val scalarHead = s"""{"metric":"total","value":${BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"unit":"sec","bench_schema":5,"ratio_denominator":"floor2","action":"noop_write","total_median":${BigDecimal(totalMedian).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"sweeps":$sweepsDone,"worst_hot_ratio":${BigDecimal(worstHot).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"worst_hot_ratio_min1":${BigDecimal(worstHotMin1).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"min1_offenders_n":${min1Offenders.size},"bench_run":$thisRun,"floor_aged":${agedNames.size},"heavy_warm_lt3":$heavyWarmLt3,"carried":$carriedN,"fp_changed":$fpChanged,"floor_reset":${reset.size},"sweep1_skipped":${sweep1Skipped.size},"skipped_heavy_n":${skippedHeavy.size},"wall_s":${BigDecimal(elapsedS).setScale(1, BigDecimal.RoundingMode.HALF_UP)},"sampled":${sampled.size},"of":${names.size},"failed":${failed.size},"failed_queries":$failedNames,"full":"$outPath","sf":"$sfDir","""
      val provenanceLists = Seq(
        "min1_offenders" -> min1Offenders.take(20).map("\"" + _ + "\"").toSeq,
        "min1_offender_detail" -> min1DetailItems.toSeq,
        "floor_aged_queries" -> agedNames.take(40).map("\"" + _ + "\""),
        "floor_reset_queries" -> reset.toSeq.sorted.take(40).map("\"" + _ + "\""),
        "offender_remeasured" -> offenderRemeasured.toSeq.sorted.take(40).map("\"" + _ + "\""))
      val queryEntries = slowestFirst.map { case (n, v) => s""""$n":$v""" }
      println(compactLine(scalarHead, provenanceLists, queryEntries))
      System.out.flush()
    }

    // per-run failure count — a query that failed twice THIS RUN leaves
    // the convergence tier (the r14 ADVICE finding: all-failed queries
    // sorted first and could never converge, burning budget on failures)
    val failCount = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)

    def sample(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
               gcFirst: Boolean = false, isWarm: Boolean = false): Unit = {
      spark.sharedState.cacheManager.clearCache()
      // Deterministic GC placement for the heavy tier: Spark's
      // ContextCleaner only frees broadcast/shuffle blocks when the driver
      // GCs their weak refs (periodicGC defaults to 30 min — longer than
      // the whole bench), so block+heap debt from prior queries otherwise
      // lands as a collection pause INSIDE whichever heavy measurement
      // tips the heap. Paying the collection BEFORE the timer starts moves
      // that cost out of the sample; the spend is visible in gc_s.
      if (gcFirst) { val g0 = System.nanoTime(); System.gc(); gcNanos += System.nanoTime() - g0 }
      // a failed query must surface as -1, never as its (short) elapsed
      // time — a regression that throws in planning would otherwise read
      // as a speedup.
      // The measured action is a NOOP-SINK WRITE, not count(): under a
      // count(1) aggregate Catalyst prunes every computed column, so a
      // narrow scoring projection (predict/fingerprint queries) collapses
      // to a metadata-only parquet count and its "floor" measures nothing
      // (text_langid_trained read 0.12 s while its eval twin — whose
      // aggregate forces the same projection — paid the real 3+ s). The
      // noop write evaluates every output column and discards the rows,
      // measuring what a consumer of the query actually pays.
      val t0 = System.nanoTime()
      var df: org.apache.spark.sql.DataFrame = null
      val v = try {
        df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
      freshSamples(name) = freshSamples(name) :+ v
      if (isWarm) freshWarm(name) = freshWarm(name) :+ v
      if (v < 0) failCount(name) += 1
      // fingerprint read off the already-executed frame: the optimizer has
      // run, so this is a toString + md5 — measurement is undisturbed.
      // Recompute whenever the current value is EMPTY and this sample
      // produced a frame: a sweep-1 failure must not pin "" forever (that
      // would erase the query's carried history and delete its state
      // entry even though a later retry validated the fingerprint)
      if (fpNow.getOrElse(name, "").isEmpty && df != null)
        fpNow(name) = try planFingerprint(df, srcHash) catch { case _: Throwable => "" }
    }

    // Sweep 1 always cold-samples EVERYTHING in alphabetical
    // (arbitrary-but-fixed) order: each run contributes one fresh same-JVM
    // minimum per query and validates every fingerprint. Family-clustered
    // adjacency is answered by the deterministic GC placement, not
    // reordering (the r13 zigzag interleave measurably doubled light-tier
    // minima and was rejected).
    var i = 0
    for ((name, fn) <- names) {
      if (skipSweep1(name)) {
        val cfp = carried(name).fp
        if (cfp.contains("+")) {
          // checkpoint-opaque plan (fp = planMd5 "+" srcHash): BUILDING
          // the frame would EXECUTE the pipeline (eager localCheckpoints
          // stage by stage), so a "planning-only" validation costs the
          // full measurement. The srcHash fold is the validity guard for
          // exactly these plans — same source tree + same sf dir (the
          // state refuses cross-sf carry) means the same plan — so the
          // suffix check alone validates, at zero cost; any code change
          // changes srcHash and falls through to a full measurement.
          if (srcHash != "nosrc" && cfp.endsWith("+" + srcHash)) {
            fpNow(name) = cfp
            sweep1Skipped += name
          } else sample(name, fn, gcFirst = i % 15 == 0)
        } else {
          // fingerprint-only validation: build the frame (planning cost,
          // no execution) and compare — a changed plan falls through to a
          // full measurement, an unchanged one keeps its carried estimator
          val fpv = try planFingerprint(fn(spark, sfDir), srcHash)
                    catch { case _: Throwable => "" }
          if (fpv.nonEmpty && fpv == carried(name).fp) {
            fpNow(name) = fpv
            sweep1Skipped += name
          } else sample(name, fn, gcFirst = i % 15 == 0)
        }
      } else sample(name, fn, gcFirst = i % 15 == 0)
      i += 1
      // checkpoint every 15 queries: even a kill mid-sweep leaves the
      // cumulative per-query data (and the updated state) on disk
      if (i % 15 == 0 && i < names.size) emit(0)
    }
    emit(1)

    // CONVERGENCE PASSES: touch ONLY queries whose estimator still needs
    // data — no warm samples anywhere, or heavy (min > 0.5 s, the set the
    // agreement criterion reads) with < 3 warm samples, or heavy whose
    // warm median disagrees with the min beyond 1.3x (a margin inside the
    // 1.5 gate; e.g. this run's fresh cold sample found a faster floor
    // than the carried median). Carried-and-agreeing queries cost this
    // run nothing beyond their sweep-1 sample. Descending current-min
    // order: re-samples of the slowest queries land minutes after their
    // previous sample (maximum stall-burst decorrelation); failed queries
    // sort LAST and leave the tier after failing twice this run.
    val heavyCutS = 0.5
    // Converged = >= 3 warm samples whose (upper) median sits within 1.3x
    // of the overall min.
    def converged(n: String): Boolean = {
      val ws = warmSamples(n).filter(_ >= 0)
      val mn = curMin2(n)
      ws.size >= 3 && mn > 0 && mn != Double.MaxValue &&
        ws.sorted.apply(ws.size / 2) / mn <= 1.3
    }
    def warmMedOverMin(n: String): Double = {
      val ws = warmSamples(n).filter(_ >= 0)
      val mn = curMin2(n)
      if (ws.isEmpty || mn <= 0 || mn == Double.MaxValue) -1.0
      else ws.sorted.apply(ws.size / 2) / mn
    }
    def needsData(n: String): Boolean = {
      if (failCount(n) >= 2) false
      // per-run cap: after 6 fresh warm samples the median is what this
      // JVM's steady state is — more samples only burn budget (the
      // sf0.001 shakedown spent 8 passes failing to push cross-JVM
      // ratios under 1.3)
      else if (freshWarm(n).count(_ >= 0) >= 6) false
      else {
        val ws = warmSamples(n).filter(_ >= 0)
        val mn = curMin(n)
        if (mn == Double.MaxValue) freshSamples(n).count(_ < 0) < 2 // retry a failure once
        else ws.isEmpty || (mn > heavyCutS && !converged(n))
      }
    }
    var pass = 2
    var tiersDone = false
    while (pass <= sweeps && elapsedS < budgetS && !tiersDone) {
      val tier = names.filter { case (n, _) => needsData(n) }
        .sortBy { case (n, _) =>
          val mn = curMin(n)
          if (mn == Double.MaxValue) Double.MaxValue else -mn // failures LAST
        }
      tiersDone = tier.isEmpty
      var j = 0
      var done = 0
      for ((name, fn) <- tier if elapsedS < budgetS) {
        // GC before EVERY tier sample, not just heavy ones: the tier's
        // descending-min order systematically places sub-1.5 s queries
        // AFTER the heaviest — without the barrier their warm samples
        // inherit the heavy predecessors' GC debt and sit 40-70% above
        // their own sweep-1 cold readings (measured r15: tokenize_unigram
        // cold 0.87-0.96 s across three runs vs tier-warm 1.2-1.7 s).
        // Tier passes are small, so the forced-GC spend is bounded.
        sample(name, fn, gcFirst = true, isWarm = true)
        // irreproducible carried floor: ≥ 4 fresh warm samples and the
        // median still sits > 1.4x above the (carried) min — discard the
        // history, re-derive from this run (see `reset`)
        if (fpOk(name) && freshWarm(name).count(_ >= 0) >= 4 && warmMedOverMin(name) > 1.4)
          reset += name
        done += 1
        j += 1
        if (j % 15 == 0) emit(pass - 1)
      }
      // an empty tier means no pass actually ran — don't report one
      if (tier.nonEmpty) emit(if (done == tier.size) pass else pass - 1)
      pass += 1
    }
    if (tiersDone) emit(pass - 2) // final line reflects the last REAL pass

    // MIN1-OFFENDER RE-MEASURE PASS: the convergence tier never touches
    // a SETTLED query, so a carried floor that this machine can no
    // longer reproduce (a too-warm all-time min) keeps the published
    // min1 ratio inflated until its aging votes accumulate — and a
    // skipped query contributes no fresh sample at all, so its vote
    // cannot even start. With leftover budget, re-execute each heavy
    // query whose published median/min1 exceeds the 1.5 bar (up to 2
    // samples each): either the floor reproduces this run (provenance
    // re-stamps, `skipped` clears) or the fresh samples cast its aging
    // vote — every residual offender in the artifact then carries
    // this-run evidence, not just a carried number. Bounded: the
    // offender set is ~a dozen sub-3 s queries (~25 s/pass).
    if (elapsedS < budgetS) {
      def min1Offenders(): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
        names.filter { case (n, _) =>
          val ok = allSamples(n).filter(_ >= 0)
          val ws = warmSamples(n).filter(_ >= 0)
          ok.nonEmpty && ok.min > 0.5 && ws.nonEmpty &&
            ws.sorted.apply(ws.size / 2) / ok.min > 1.5
        }
      var opass = 0
      while (opass < 2 && elapsedS < budgetS && min1Offenders().nonEmpty) {
        for ((name, fn) <- min1Offenders() if elapsedS < budgetS) {
          sample(name, fn, gcFirst = true, isWarm = true)
          offenderRemeasured += name
          // a re-executed query's floor/median are no longer "carried,
          // not reproduced this run" — clear its skip provenance
          sweep1Skipped -= name
        }
        emit(math.max(1, pass - 2))
        opass += 1
      }
    }

    // OVERTIME RESCUE: a stall-burst-stretched sweep 1 can eat the whole
    // budget, leaving every query a SINGLE sample taken inside the very
    // burst that stretched the sweep. If the budget expired with no
    // re-sampling anywhere (and no carried history), re-sample just the
    // slowest few once each under a small hard overtime cap, emitting
    // after EVERY sample.
    if (sweeps >= 2 && names.forall { case (n, _) => allSamples(n).sizeIs <= 1 }) {
      val overtimeCapS = budgetS + 240
      val rescue = names.sortBy { case (n, _) =>
        val ok = allSamples(n).filter(_ >= 0)
        if (ok.isEmpty) 0.0 else -ok.min
      }.take(10)
      for ((name, fn) <- rescue if elapsedS < overtimeCapS) {
        sample(name, fn, isWarm = true)
        emit(1)
      }
    }
    spark.stop()
  }
}
