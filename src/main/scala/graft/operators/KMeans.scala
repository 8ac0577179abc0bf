package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lloyd's k-means over embedding columns as pure DataFrame ops — trains
  * the IVF coarse quantizer that [[graft.queries.SimilarityQueries]]'s
  * `ann_ivf` uses a training-free stand-in for ("a real deployment swaps
  * in k-means centroids without changing the plan shape").
  *
  * DETERMINISM is the design driver, because the correctness gate
  * hash-compares against an independent engine:
  *  - components are quantized to integers (`round(x · 2^20)`) before any
  *    aggregation: BIGINT sums are exact and ASSOCIATIVE, so the reduce
  *    order Spark picks cannot change the centroid (a double sum varies
  *    run to run with partial-aggregation order — unacceptable under a
  *    hash compare, and a real nondeterminism bug at any scale);
  *  - a centroid is represented by its per-dimension integer SUM (not the
  *    mean): cosine is scale-invariant, so ranking against the sum vector
  *    equals ranking against the mean while staying exact;
  *  - init is the first k vectors by id; assignment ties break on
  *    cent_id; fixed iteration count. Every step is replayable in SQL.
  *
  * Scale shape per iteration: one broadcast join (k centroids against n
  * vectors) + argmax aggregate for assignment, one posexplode + two-level
  * aggregation for the update — O(n·k·d) compute, no n² anywhere, k rows
  * of state between iterations.
  */
object KMeans {

  /** Component quantization scale (2^20 ≈ 6 decimal digits — far below
    * float noise for unit-ish embeddings, far above rank-flip risk). */
  val Scale: Long = 1L << 20

  /** Quantize an array<float|double> column to array<bigint>. */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * Scale).cast("bigint"))

  /** Sequential-fold double dot product of two array<bigint> columns
    * ([[graft.functions.DotProduct]]) — the SAME left-to-right order as
    * the oracle's list comprehension, so both engines produce
    * bit-identical doubles. */
  def idot(a: Column, b: Column): Column = graft.functions.VecExpr.dot(a, b)

  private def inorm(a: Column): Column = sqrt(idot(a, a))

  /** Cosine between integer vectors (scale cancels). */
  def icos(a: Column, b: Column): Column = idot(a, b) / (inorm(a) * inorm(b))

  /** Cosine with the two norms precomputed (r17 hot-path form): callers
    * hoist `sqrt(idot(v, v))` to a per-ROW projection before the pair
    * explosion, so each candidate pair pays ONE dot instead of three.
    * The division's operand order — dot / (normA * normB) — is exactly
    * [[icos]]'s, evaluated on the identical doubles, so every result is
    * bit-equal and the oracle replay is untouched. */
  def icosPrenormed(dot: Column, na: Column, nb: Column): Column =
    dot / (na * nb)

  /** The argmax tiebreak of [[assignKeep]]: max over
    * struct(cos, −cent_id) picks the highest cosine and, on ties, the
    * LOWEST cent_id — the same (cos desc, cent_id asc) order the old
    * rank-1 window implemented. A hash aggregate replaces the window
    * (r17, guide §2.3 "aggregate before you shuffle"): the n·k
    * crossed rows collapse map-side (each id's k rows are consecutive in
    * the crossJoin output), so the exchange carries n rows instead of
    * sorting n·k — and the sort the window needed disappears. */
  private def best(cos: Column, centId: Column): Column =
    max(struct(cos.as("c"), (-centId).as("nc")))

  /** Nearest-centroid assignment: (id, cent_id). `cents` must be
    * broadcastable (k rows). */
  def assign(q: DataFrame, cents: DataFrame): DataFrame =
    assignKeep(q, cents, Nil).select(col("id"), col("cent_id"))

  /** Nearest-centroid assignment per SUBSPACE: input rows (id, j, qv),
    * centroids (j, cent_id, cvec, ...) — broadcastable (subspaces × k
    * rows). Returns (id, j, cent_id). */
  def assignSub(sub: DataFrame, cents: DataFrame): DataFrame =
    assignKeep(sub, cents, Seq("j")).select(col("id"), col("j"), col("cent_id"))

  /** The one assignment kernel: each (id, keys) row of `q` against the
    * broadcast centroids of its key group, norms hoisted to one per row,
    * [[best]] as the argmax. Returns (id, keys…, cent_id, qv) — keeping
    * the row's `qv` (constant per group, so `first` in the same aggregate
    * is deterministic) lets the Lloyd update read member vectors straight
    * off the assignment instead of re-joining the corpus (r17: two
    * exchanges per iteration saved). With no keys the join is the plain
    * broadcast cartesian product.
    *
    * PRECONDITION: (id, keys) is unique in `q`. The groupBy+first(qv)
    * collapses duplicate rows to one, whereas an assign-then-rejoin shape
    * would fan duplicates back into the centroid sums — every caller here
    * feeds vec_id-unique corpora (and [[lloyd]]'s seed check trips on most
    * duplicate-id inputs), but a new caller with a non-unique id corpus
    * would silently train on deduplicated vectors. */
  private def assignKeep(q: DataFrame, cents: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val qn = q.withColumn("__qn", inorm(col("qv")))
    val cn = broadcast(cents.select(kc :+ col("cent_id") :+ col("cvec"): _*)
      .withColumn("__cn", inorm(col("cvec"))))
    (if (keys.isEmpty) qn.crossJoin(cn) else qn.join(cn, keys))
      .select(col("id") +: kc :+ col("qv") :+ col("cent_id") :+
        icosPrenormed(idot(col("qv"), col("cvec")), col("__qn"), col("__cn"))
          .as("__cos"): _*)
      .groupBy(col("id") +: kc: _*)
      .agg(best(col("__cos"), col("cent_id")).as("__b"), first(col("qv")).as("qv"))
      .select(col("id") +: kc :+ (-col("__b.nc")).as("cent_id") :+ col("qv"): _*)
  }

  /** The one Lloyd loop: an independent codebook per `keys` group of `q`
    * (id, keys…, qv: array<bigint>), all groups trained in ONE shared set
    * of Spark jobs — the key simply rides through every assignment and
    * update aggregation, so the job count equals a single codebook's
    * however many groups there are. Returns (keys…, cent_id, cvec,
    * n_members): cvec is the member-SUM vector and n_members the exact
    * member count of the SAME final update. Empty clusters keep their
    * previous centroid; [[Iterate.rounds]] cuts the lineage each step.
    *
    * Init is "the k rows with id ∈ [0, k)" per group. An id space that is
    * sparse or offset there would SILENTLY under-seed the codebook and
    * every assignment downstream would look like "no neighbors", so every
    * group must seed exactly k centroids (one small aggregate, one job).
    *
    * The quantized corpus `q` is loop-invariant, so it is materialized
    * once (one `localCheckpoint`) and the seed check and every round read
    * that, instead of each re-scanning (and re-shuffling) the source —
    * MLlib's KMeans persists its input for the same reason. It cannot move
    * a value: the rows are the same and the sums exact. */
  private def lloyd(input: DataFrame, keys: Seq[String], k: Int, iterations: Int,
      caller: String): DataFrame = {
    require(k >= 1 && iterations >= 0)
    val kc = keys.map(col)
    val q = input.localCheckpoint()
    val init = q.filter(col("id") < k)
      .select(kc :+ col("id").as("cent_id") :+ col("qv").as("cvec") :+
        lit(1L).as("n_members"): _*)
    val seeded = init.groupBy(kc: _*).count().collect().map(_.getLong(keys.size))
    require(seeded.nonEmpty && seeded.forall(_ == k),
      s"KMeans.$caller seeds centroids from ids [0, $k) but found " +
        s"${if (seeded.isEmpty) "none" else seeded.distinct.sorted.mkString("/")} " +
        s"of $k per codebook — the id column must be dense from 0 " +
        "(re-index or lower k)")
    Iterate.rounds(init, iterations) { states =>
      val cents = states.last
      // r18: the member COUNT rides the sums aggregation instead of a
      // second pass — every member vector contributes exactly one row per
      // __pos (vectors are fixed-width), so the level-1 group
      // (keys, cent_id, __pos) row count IS n_members, identical for every
      // __pos of the group; max() just reads it out at level 2.
      val sums = assignKeep(q, cents, keys)
        .select(kc :+ col("cent_id") :+ posexplode(col("qv")).as(Seq("__pos", "__v")): _*)
        .groupBy(kc :+ col("cent_id") :+ col("__pos"): _*)
        .agg(sum(col("__v")).as("__s"), // exact BIGINT — order-free
          count(lit(1)).as("__n"))
        .groupBy(kc :+ col("cent_id"): _*)
        .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__s")))),
          s => s.getField("__s")).as("__newvec"),
          max(col("__n")).as("__n"))
      cents.join(sums, keys :+ "cent_id", "left")
        .select(kc :+ col("cent_id") :+
          coalesce(col("__newvec"), col("cvec")).as("cvec") :+ // empty → keep
          coalesce(col("__n"), col("n_members")).as("n_members"): _*)
    }.last
  }

  /** PRODUCT-QUANTIZATION trainer: one codebook PER SUBSPACE `j`, all
    * trained in one shared set of jobs by [[lloyd]] (8 sequential fits
    * would cost 8× the fixed per-job overhead AND 8 passes over the data).
    * Input: (id: long, j: int, qv: array<bigint>) — already-quantized
    * subvectors, (id, j) unique, ids dense from 0 in every subspace.
    * Returns (j, cent_id, cvec, n_members); `cvec/n_members` is the
    * centroid mean, the reconstruction value ADC scoring needs (cosine
    * assignment is scale-free, but cross-subspace ADC sums are not). */
  def fitSub(sub: DataFrame, k: Int, iterations: Int): DataFrame =
    lloyd(sub, Seq("j"), k, iterations, "fitSub")

  /** Train k centroids for `iterations` Lloyd steps. Returns
    * (cent_id, cvec: array<bigint>) where cvec is the member-SUM vector
    * (cosine-equivalent to the mean). Input: (idCol: long, vecCol:
    * array<float|double>), idCol unique and dense from 0. */
  def fit(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int): DataFrame =
    lloyd(emb.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv")),
      Nil, k, iterations, "fit")
      .select(col("cent_id"), col("cvec"))
}
