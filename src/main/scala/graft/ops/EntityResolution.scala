package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT edit-distance similarity join — the entity-resolution /
  * record-linkage face of dedup: find every pair of strings within
  * Levenshtein distance `d`, without ever materializing the cross
  * product.
  *
  * Algorithm: partition-based segment blocking (the PassJoin family —
  * Li, Deng, Wang, Feng, "PassJoin: A Partition-based Method for
  * Similarity Joins", PVLDB 2011 — implemented from scratch on Spark
  * relational primitives). The pigeonhole argument: split an indexed
  * string of length `l` into `d+1` contiguous segments; any string
  * within edit distance `d` of it must contain AT LEAST ONE of those
  * segments verbatim, starting within `d` positions of the segment's
  * home offset (each edit operation shifts downstream characters by at
  * most one, and at most `d` edits touch the whole string, so some
  * segment is untouched AND un-shifted beyond `d`). Blocking on
  * (segment text, segment index, indexed length) therefore has ZERO
  * false negatives; a final `levenshtein(...) <= d` filter removes the
  * false positives, so the result is EXACTLY the cross-product
  * semantics — this is an exact operator with a sub-quadratic plan, not
  * an approximation.
  *
  * Scale posture: both sides reduce to short (segment, i, l) keys — the
  * join is a plain hash equi-join on those keys (PlanSpec pins
  * no-cartesian / no-nested-loop); candidates, not the corpus, pay the
  * verification cost. The degenerate case is a FLOOD SEGMENT — a shared
  * constant prefix (every id starting "Customer#") puts one segment of
  * every row in one bucket and the candidate join goes quadratic
  * exactly like an LSH hot bucket. `maxBucketSize > 0` arms the same
  * loud drop used by [[Dedup.capBucketsPaired]] — and, exactly as
  * there, a drop trades RECALL, not precision: a pair whose only
  * untouched segment IS the flood segment (e.g. d=1 with the edit in
  * the diverse half) loses its one blocking key and goes unreported,
  * while every surviving pair is still levenshtein-verified. Keep the
  * cap disarmed unless a flood is demonstrated; the loud stderr report
  * names the dropped buckets so the trade is visible.
  */
object EntityResolution {

  private val SegSchema = "array<struct<l:int,i:int,seg:string,pos:int>>"

  /** Segment start offset (0-based) of segment `i` for a string of
    * length `l` split into `k` even segments: floor(i*l/k). Integer
    * arithmetic via floor(double) is exact for every l, i this ever
    * sees (l < 2^26).
    */
  private def segStart(i: Column, l: Column, k: Int): Column =
    floor(i * l / lit(k)).cast("int")

  /** Index-side blocking keys: one row per (id, str, l, i, seg) — the
    * d+1 home segments of each string.
    */
  private[graft] def segmentKeys(df: DataFrame, idCol: String,
                                 strCol: String, d: Int): DataFrame = {
    val k = d + 1
    val l = length(col(strCol))
    val segs = transform(sequence(lit(0), lit(d)), i => {
      val p = segStart(i, l, k)
      val len = segStart(i + 1, l, k) - p
      struct(l.as("l"), i.cast("int").as("i"),
        col(strCol).substr(p + 1, len).as("seg"), p.as("pos"))
    })
    df.select(col(idCol).as("__rid"), col(strCol).as("__rstr"),
        explode(segs).as("__s"))
      .select(col("__rid"), col("__rstr"),
        col("__s.l").as("l"), col("__s.i").as("i"), col("__s.seg").as("seg"),
        col("__s.pos").as("pos"))
  }

  /** Probe-side blocking keys: for each probe string of length `m`,
    * every substring that could equal an indexed segment — for each
    * candidate indexed length `l` in [m-d, m+d], each segment index
    * `i`, and each start within `d` of the segment's home offset. The
    * probe fan-out is O(d^2 * (2d+1)) substrings per row — constant in
    * corpus size.
    */
  private[graft] def probeKeys(df: DataFrame, idCol: String,
                               strCol: String, d: Int): DataFrame = {
    val k = d + 1
    val m = length(col(strCol))
    val subs = flatten(transform(
      sequence(greatest(m - d, lit(0)), m + d), l =>
        flatten(transform(sequence(lit(0), lit(d)), i => {
          val p = segStart(i, l, k)
          val len = segStart(i + 1, l, k) - p
          val lo = greatest(p - lit(d), lit(0))
          val hi = least(m - len, p + lit(d))
          when(hi >= lo,
            transform(sequence(lo, hi), j =>
              struct(l.cast("int").as("l"), i.cast("int").as("i"),
                col(strCol).substr(j + 1, len).as("seg"),
                j.cast("int").as("pos"))))
            .otherwise(array().cast(SegSchema))
        }))))
    df.select(col(idCol).as("__pid"), col(strCol).as("__pstr"),
        explode(subs).as("__s"))
      .select(col("__pid"), col("__pstr"),
        col("__s.l").as("l"), col("__s.i").as("i"), col("__s.seg").as("seg"),
        col("__s.pos").as("pos"))
  }

  /** All (left, right) pairs with levenshtein(leftStr, rightStr) <= d —
    * EXACT cross-product semantics via segment blocking + verify.
    * Output: (leftId, rightId, dist), column names taken from the
    * id arguments.
    */
  def editDistanceJoin(left: DataFrame, leftId: String, leftStr: String,
                       right: DataFrame, rightId: String, rightStr: String,
                       d: Int, maxBucketSize: Int = 0): DataFrame =
    editDistanceVerified(left, leftId, leftStr, right, rightId, rightStr,
      d, maxBucketSize)
      .select(col("__pid").as(leftId), col("__rid").as(rightId), col("dist"))

  /** [[editDistanceJoin]] KEEPING the verified strings. The pair
    * relation already carries both strings through the candidate
    * distinct (the levenshtein verify needs them), so a consumer that
    * scores the matched strings further — the Jaro-Winkler re-rank —
    * reads them HERE instead of joining both corpus sides back onto
    * the pair relation: two joins and two corpus re-scans removed
    * (guide §2.4), zero extra shuffle bytes beyond the strings the
    * verify already moved. Output: (leftId, rightId, dist,
    * leftStrOut, rightStrOut).
    */
  def editDistanceJoinWithStrings(left: DataFrame, leftId: String,
      leftStr: String, right: DataFrame, rightId: String, rightStr: String,
      d: Int, leftStrOut: String, rightStrOut: String,
      maxBucketSize: Int = 0): DataFrame =
    editDistanceVerified(left, leftId, leftStr, right, rightId, rightStr,
      d, maxBucketSize)
      .select(col("__pid").as(leftId), col("__rid").as(rightId),
        col("dist"), col("__pstr").as(leftStrOut),
        col("__rstr").as(rightStrOut))

  /** Shared body of [[editDistanceJoin]] / [[editDistanceJoinWithStrings]]:
    * the verified pair relation with its internal column names
    * (__pid, __pstr, __rid, __rstr, dist).
    */
  private def editDistanceVerified(left: DataFrame, leftId: String,
      leftStr: String, right: DataFrame, rightId: String, rightStr: String,
      d: Int, maxBucketSize: Int): DataFrame = {
    require(d >= 1, s"edit-distance threshold must be >= 1, got $d")
    val probe = probeKeys(left, leftId, leftStr, d)
    val index = segmentKeys(right, rightId, rightStr, d)
    val (pc, ic) =
      Dedup.capBucketsPaired(probe, index, Seq("l", "i", "seg"),
        maxBucketSize, "editDistanceJoin")
    pc.join(ic, Seq("l", "i", "seg"))
      .select(col("__pid"), col("__pstr"), col("__rid"), col("__rstr"))
      .distinct()
      // thresholded levenshtein: banded O(d*n) DP with early abandon
      // (returns -1 past the threshold) — the verify call is the hot
      // loop on long strings, and the full O(n*m) matrix is wasted work
      .withColumn("dist", levenshtein(col("__pstr"), col("__rstr"), d))
      .filter(col("dist") >= 0)
  }

  /** Self-join face: unordered pairs (idA < idB) within distance d. */
  def editDistanceSelfJoin(df: DataFrame, idCol: String, strCol: String,
                           d: Int, maxBucketSize: Int = 0): DataFrame = {
    require(d >= 1, s"edit-distance threshold must be >= 1, got $d")
    val probe = probeKeys(df, idCol, strCol, d)
    val index = segmentKeys(df, idCol, strCol, d)
    val (pc, ic) =
      Dedup.capBucketsPaired(probe, index, Seq("l", "i", "seg"),
        maxBucketSize, "editDistanceSelfJoin")
    pc.join(ic, Seq("l", "i", "seg"))
      .filter(col("__pid") < col("__rid"))
      .select(col("__pid"), col("__pstr"), col("__rid"), col("__rstr"))
      .distinct()
      .withColumn("dist", levenshtein(col("__pstr"), col("__rstr"), d))
      .filter(col("dist") >= 0)
      .select(col("__pid").as("id_a"), col("__rid").as("id_b"), col("dist"))
  }

  /** [[editDistanceSelfJoin]] with the hot-bucket recall RESTORED by a
    * second blocking family (r15 verdict task 6). The cap alone trades
    * recall silently beyond the loud audit: a pair whose only untouched
    * segment IS the flood segment (the shared-constant-prefix corpus,
    * d=1 with the edit in the diverse half) loses its one blocking key.
    *
    * The rescue re-blocks exactly the dropped members through a SECOND
    * family: deletion neighborhoods of their COMPLEMENT strings. For a
    * missed pair, the flood segment is the pigeonhole witness: both
    * strings contain it verbatim (index side at home, probe side
    * within d of home) and the witness alignment maps it to itself, so
    * ALL d edits live outside it — the two complements (string with
    * the matched occurrence excised) are within edit distance d of
    * each other. Two strings within edit distance d always share a
    * common string reachable by <= d single-character deletions from
    * each (every substitution deletes one char on each side, every
    * insert/delete one char on one side — the FastSS/deletion-
    * neighborhood family, Bocek et al. 2007), so blocking on the
    * <= d-deletion variants of the complements has zero false
    * negatives. Deletion keys are POSITION-FREE, which is exactly what
    * the layered-constant corpus ("Customer#000…", where the prefix
    * would survive one segment excision as "er#0…" and flood again)
    * needs — no iteration, one round. A deletion-key bucket can still
    * flood (exact-duplicate complements, or complements shorter than
    * d, whose empty deletion variant buckets everything — both truly
    * quadratic pair sets), and then the same cap drops it LOUDLY,
    * never silently. Precision is untouched: every rescued candidate
    * is levenshtein-verified on the ORIGINAL strings. Cost: deletion
    * fan-out is C(|complement|, <= d) per hot member — hot-member-
    * scoped, nothing is paid when no bucket floods; at d = 1 it is
    * linear in the complement length.
    */
  def editDistanceSelfJoinRescued(df: DataFrame, idCol: String,
                                  strCol: String, d: Int,
                                  maxBucketSize: Int): DataFrame = {
    require(d >= 1, s"edit-distance threshold must be >= 1, got $d")
    require(maxBucketSize > 0,
      "rescue only makes sense with the cap armed (maxBucketSize > 0)")
    val keys = Seq("l", "i", "seg")
    // The rescued face reads each fan-out relation three times (the
    // cap's combined bucket count, the base candidate join, and the
    // hot-member complement extraction) — persist so the explode over
    // the corpus scan runs once, not three times (guide §5; the plain
    // face reads each side once and stays unpersisted). First consumer
    // is the cap's single-threaded checkpoint action, so no count()
    // race guard is needed.
    val probe = Materialize.shared(probeKeys(df, idCol, strCol, d))
    val index = Materialize.shared(segmentKeys(df, idCol, strCol, d))
    val (pc, ic, hotOpt) = Dedup.capBucketsPairedHot(probe, index, keys,
      maxBucketSize, "editDistanceSelfJoinRescued")
    val base = pc.join(ic, keys)
      .filter(col("__pid") < col("__rid"))
      .select(col("__pid"), col("__pstr"), col("__rid"), col("__rstr"))
      .distinct()
      .withColumn("dist", levenshtein(col("__pstr"), col("__rstr"), d))
      .filter(col("dist") >= 0)
      .select(col("__pid").as("id_a"), col("__rid").as("id_b"), col("dist"))
    hotOpt match {
      case None => base
      case Some(hot0) =>
        val h = broadcast(hot0)
        // every (member, matched occurrence) of a dropped bucket, from
        // BOTH sides; complement = the string with the occurrence excised
        // materialized eagerly: the 0..d deletion levels below each read
        // the complement relation, and they run inside ONE job (the
        // rescue cap's checkpoint) whose union branches would otherwise
        // race to compute the same cache partitions (the block-lock
        // stall documented at Materialize.sharedNow)
        val comp = probe.join(h, keys)
            .select(col("__pid").as("mid"), col("__pstr").as("mstr"),
              col("pos"), length(col("seg")).as("slen"))
          .unionByName(index.join(h, keys)
            .select(col("__rid").as("mid"), col("__rstr").as("mstr"),
              col("pos"), length(col("seg")).as("slen")))
          .select(col("mid"), concat(
            col("mstr").substr(lit(1), col("pos")),
            col("mstr").substr(col("pos") + col("slen") + 1,
              length(col("mstr")))).as("cstr"))
          .distinct()
          .transform(Materialize.sharedNow)
        // deletion neighborhood U_{<=d}: every string reachable from the
        // complement by 0..d single-character deletions. sequence(1, 0)
        // DESCENDS in Spark, so empty strings are guarded explicitly.
        val delOnce = "CASE WHEN length(v) >= 1 THEN " +
          "transform(sequence(1, length(v)), " +
          "p -> concat(substr(v, 1, p - 1), substr(v, p + 1, length(v)))) " +
          "ELSE array() END"
        val levels = (1 to d).scanLeft(
          comp.select(col("mid"), col("cstr").as("v"))) { (prev, _) =>
          prev.select(col("mid"), explode(expr(delOnce)).as("v"))
        }
        // persisted: read twice (the cap's bucket count and the capped
        // self-join below) — one neighborhood build, not two
        val nb = levels.reduce(_ unionByName _).distinct()
          .transform(Materialize.shared)
        // the second-family candidate join, under the SAME cap: a
        // deletion-key bucket that floods (exact-duplicate complements)
        // is a truly quadratic pair set — dropped loudly, never silently
        val nbc = Dedup.capBuckets(nb, Seq("v"), maxBucketSize,
          "editDistanceRescue")
          .transform(Materialize.sharedNow)
        val rcand = nbc.select(col("v"), col("mid").as("id_a"))
          .join(nbc.select(col("v"), col("mid").as("id_b")), Seq("v"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
          .distinct()
        val sA = df.select(col(idCol).as("id_a"), col(strCol).as("__sa"))
        val sB = df.select(col(idCol).as("id_b"), col(strCol).as("__sb"))
        val rescued = rcand
          .join(sA, Seq("id_a")).join(sB, Seq("id_b"))
          .withColumn("dist", levenshtein(col("__sa"), col("__sb"), d))
          .filter(col("dist") >= 0)
          .select(col("id_a"), col("id_b"), col("dist"))
        base.unionByName(rescued).dropDuplicates("id_a", "id_b")
    }
  }

  /** [[editDistanceJoin]] with the hot-bucket recall restored — the
    * two-relation (record-linkage) face of
    * [[editDistanceSelfJoinRescued]]: the same deletion-neighborhood
    * second family over flood-segment complements, with candidates
    * oriented left-probe vs right-index.
    */
  def editDistanceJoinRescued(left: DataFrame, leftId: String,
                              leftStr: String, right: DataFrame,
                              rightId: String, rightStr: String, d: Int,
                              maxBucketSize: Int): DataFrame = {
    require(d >= 1, s"edit-distance threshold must be >= 1, got $d")
    require(maxBucketSize > 0,
      "rescue only makes sense with the cap armed (maxBucketSize > 0)")
    val keys = Seq("l", "i", "seg")
    // persisted for the same three-reads shape as the self-join rescue
    val probe = Materialize.shared(probeKeys(left, leftId, leftStr, d))
    val index = Materialize.shared(segmentKeys(right, rightId, rightStr, d))
    val (pc, ic, hotOpt) = Dedup.capBucketsPairedHot(probe, index, keys,
      maxBucketSize, "editDistanceJoinRescued")
    val base = pc.join(ic, keys)
      .select(col("__pid"), col("__pstr"), col("__rid"), col("__rstr"))
      .distinct()
      .withColumn("dist", levenshtein(col("__pstr"), col("__rstr"), d))
      .filter(col("dist") >= 0)
      .select(col("__pid").as(leftId), col("__rid").as(rightId), col("dist"))
    hotOpt match {
      case None => base
      case Some(hot0) =>
        val h = broadcast(hot0)
        // complements materialized eagerly, neighborhoods persisted —
        // the same shapes as the self-join rescue: each complement
        // feeds d+1 deletion levels inside one job (cache-race guard),
        // each neighborhood is read twice (cap count + candidate join)
        def comp(rel: DataFrame, id: String, str: String): DataFrame =
          rel.join(h, keys)
            .select(col(id).as("mid"), col(str).as("mstr"),
              col("pos"), length(col("seg")).as("slen"))
            .select(col("mid"), concat(
              col("mstr").substr(lit(1), col("pos")),
              col("mstr").substr(col("pos") + col("slen") + 1,
                length(col("mstr")))).as("cstr"))
            .distinct()
            .transform(Materialize.sharedNow)
        val delOnce = "CASE WHEN length(v) >= 1 THEN " +
          "transform(sequence(1, length(v)), " +
          "p -> concat(substr(v, 1, p - 1), substr(v, p + 1, length(v)))) " +
          "ELSE array() END"
        def neighborhood(c: DataFrame): DataFrame =
          (1 to d).scanLeft(c.select(col("mid"), col("cstr").as("v"))) {
            (prev, _) =>
              prev.select(col("mid"), explode(expr(delOnce)).as("v"))
          }.reduce(_ unionByName _).distinct()
            .transform(Materialize.shared)
        val (nbL, nbR) = Dedup.capBucketsPaired(
          neighborhood(comp(probe, "__pid", "__pstr")),
          neighborhood(comp(index, "__rid", "__rstr")),
          Seq("v"), maxBucketSize, "editDistanceJoinRescue")
        val rcand = nbL.select(col("v"), col("mid").as("__la"))
          .join(nbR.select(col("v"), col("mid").as("__rb")), Seq("v"))
          .select(col("__la"), col("__rb")).distinct()
        val sL = left.select(col(leftId).as("__la"),
          col(leftStr).as("__sa"))
        val sR = right.select(col(rightId).as("__rb"),
          col(rightStr).as("__sb"))
        val rescued = rcand
          .join(sL, Seq("__la")).join(sR, Seq("__rb"))
          .withColumn("dist", levenshtein(col("__sa"), col("__sb"), d))
          .filter(col("dist") >= 0)
          .select(col("__la").as(leftId), col("__rb").as(rightId),
            col("dist"))
        base.unionByName(rescued).dropDuplicates(leftId, rightId)
    }
  }

  /** The index relation for [[editDistanceJoinIndexed]] — build once
    * over the reference corpus, persist/append, probe with every new
    * batch (the incremental-ingest shape shared with
    * [[Dedup.bandIndex]]): one row per (index_id, l, i, seg).
    */
  def indexSegments(df: DataFrame, idCol: String, strCol: String,
                    d: Int): DataFrame =
    segmentKeys(df, idCol, strCol, d)
      .select(col("__rid").as("index_id"), col("__rstr").as("index_str"),
        col("l"), col("i"), col("seg"))

  /** Probe a PRE-BUILT segment index with a new batch — per-ingest cost
    * is batch-fanout-sized plus the candidate join, independent of how
    * the index was accumulated. Output: (leftId, index_id, dist).
    */
  def editDistanceJoinIndexed(index: DataFrame, left: DataFrame,
                              leftId: String, leftStr: String, d: Int,
                              maxBucketSize: Int = 0): DataFrame = {
    require(d >= 1, s"edit-distance threshold must be >= 1, got $d")
    val probe = probeKeys(left, leftId, leftStr, d)
    val (pc, ic) = Dedup.capBucketsPaired(probe, index, Seq("l", "i", "seg"),
      maxBucketSize, "editDistanceJoinIndexed")
    pc.join(ic, Seq("l", "i", "seg"))
      .select(col("__pid"), col("__pstr"), col("index_id"), col("index_str"))
      .distinct()
      .withColumn("dist", levenshtein(col("__pstr"), col("index_str"), d))
      .filter(col("dist") >= 0)
      .select(col("__pid").as(leftId), col("index_id"), col("dist"))
  }

  /** Entity clusters: connected components over the distance-<=d pair
    * graph ([[Dedup.resolveClusters]] label propagation), every record
    * labeled with its component's minimum id — singletons keep their own
    * id. The canonical "which rows are the same real-world entity"
    * output.
    */
  def clusterIds(df: DataFrame, idCol: String, strCol: String, d: Int,
                 maxBucketSize: Int = 0): DataFrame = {
    val pairs = editDistanceSelfJoin(df, idCol, strCol, d, maxBucketSize)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val labels = Dedup.resolveClusters(pairs)
    df.select(col(idCol))
      .join(labels, df(idCol) === labels("node"), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
  }

  /** Record-linkage resolution: for each left record, its BEST match on
    * the right (minimum distance, ties broken by minimum right id) —
    * one aggregation over [[editDistanceJoin]]'s pair relation, no
    * window sort. Left records with no match within `d` are absent
    * (the unlinked remainder is `left.join(result, "left_anti")`).
    */
  def linkBest(left: DataFrame, leftId: String, leftStr: String,
               right: DataFrame, rightId: String, rightStr: String,
               d: Int, maxBucketSize: Int = 0): DataFrame =
    bestOf(editDistanceJoin(left, leftId, leftStr, right, rightId,
      rightStr, d, maxBucketSize), leftId, rightId, d)

  /** [[linkBest]] over the RESCUED pair relation
    * ([[editDistanceJoinRescued]]) — under a blocking-bucket flood the
    * plain capped join loses pairs and the "best match" silently
    * degrades to the best SURVIVING match (or the record vanishes);
    * the rescued face restores exact recall first, so best means best
    * (r16 verdict task 5).
    */
  def linkBestRescued(left: DataFrame, leftId: String, leftStr: String,
                      right: DataFrame, rightId: String, rightStr: String,
                      d: Int, maxBucketSize: Int): DataFrame =
    bestOf(editDistanceJoinRescued(left, leftId, leftStr, right, rightId,
      rightStr, d, maxBucketSize), leftId, rightId, d)

  /** Per-left best (min dist, ties to min right id). `dist` is a
    * bounded small int (the pair relation carries 0..d by
    * construction), so the lexicographic `min(struct(dist, id))` —
    * which only runs in a SortAggregate (non-primitive buffer) —
    * decomposes into d+1 conditional PRIMITIVE minima: one
    * `min(id | dist = i)` per level, best = the first non-null level.
    * Whole-stage-codegen hash aggregation with map-side partial
    * aggregation over the pair relation (r22; the Dedup packed-min
    * lesson applied to the int-bounded case).
    */
  private def bestOf(pairs: DataFrame, leftId: String,
                     rightId: String, d: Int): DataFrame = {
    val mins = (0 to d).map(i =>
      min(when(col("dist") === i, col(rightId))).as(s"__m$i"))
    val best = coalesce((0 to d).map(i => col(s"__m$i")): _*)
    val dist = (0 to d).foldRight(lit(null).cast("int")) { (i, acc) =>
      when(col(s"__m$i").isNotNull, lit(i)).otherwise(acc) }
    pairs
      .groupBy(col(leftId))
      .agg(mins.head, mins.tail: _*)
      .select(col(leftId), best.as(rightId), dist.as("dist"))
  }

  /** [[clusterIds]] over the RESCUED pair relation — connected
    * components whose edge set keeps the flood-segment pairs the cap
    * drops (a flood is precisely where clusters are LARGE, i.e. where
    * losing edges splits real entities): exact recall via the
    * deletion-neighborhood second family, then the same min-label
    * resolution (r16 verdict task 5).
    */
  def clusterIdsRescued(df: DataFrame, idCol: String, strCol: String,
                        d: Int, maxBucketSize: Int): DataFrame = {
    val pairs = editDistanceSelfJoinRescued(df, idCol, strCol, d,
        maxBucketSize)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val labels = Dedup.resolveClusters(pairs)
    df.select(col(idCol))
      .join(labels, df(idCol) === labels("node"), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
  }
}
