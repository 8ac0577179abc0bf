package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.{Text, Vectors}
import graft.sources.ParquetFormat

/** Text-analysis pack over the `documents` table — the training-data-pipeline
  * operators (token counting, fingerprinting, exact dedup, language ID,
  * quality scoring). All are single-pass, shuffle-free scans except the dedup
  * (one shuffle on the fingerprint key) — linear scale-out.
  */
object TextQueries {

  private type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "text_tokens" -> textTokens,
    "text_fingerprint" -> textFingerprint,
    "text_langid" -> textLangId,
    "text_quality" -> textQuality,
    "dedup_exact" -> dedupExact,
    "text_df_stats" -> textDfStats,
    "pipeline_doc_filter" -> pipelineDocFilter,
    "text_heavy_hitters" -> textHeavyHitters,
    "text_langid_trained" -> textLangidTrained,
    "dedup_paragraph" -> dedupParagraph,
    "text_cms_freq" -> textCmsFreq,
    "text_winnowing" -> textWinnowing,
    "dedup_paragraph_incremental" -> dedupParagraphIncremental,
    "dedup_paragraph_incremental_batch" -> dedupParagraphIncrementalBatch
  )

  /** Heavy-hitter capacity: emitted tokens have frequency > n/HhK. */
  private val HhK = 32

  /** Frequent tokens WITHOUT the full-vocabulary shuffle — the two-pass
    * sketch-then-verify plan a 100 TB corpus needs:
    *
    * Pass 1 builds a Misra–Gries k-counter summary per partition
    * ([[graft.functions.SketchAgg.misraGries]], a native TypedImperativeAggregate
    * — partial update map-side, one ≤k-entry buffer per partition on the
    * wire, associative merge reduce-side). The summary is a guaranteed
    * SUPERSET of every token with frequency > n/k, but its counts are
    * undercounts and its extra candidates partition-order-dependent.
    *
    * Pass 2 recounts ONLY the ≤k candidates exactly (`isin` filter —
    * codegen'd map-side predicate, so the groupBy shuffles at most k
    * distinct keys) and keeps those with cnt·k > n. The emitted set is
    * exactly {token : freq > n/k} — independent of which extra candidates
    * the sketch carried, hence deterministic and hash-gradable.
    *
    * An exact `groupBy(token)` ships the whole token stream (and at web
    * scale, a vocabulary-sized reduce state); this plan ships k counters
    * per partition plus one k-key aggregate. The second scan is the price
    * of exact counts — at 100 TB the scan is embarrassingly parallel and
    * the shuffle stays O(k·partitions). */
  private val textHeavyHitters: Q = (s, dir) => {
    import s.implicits._
    val toks = Tables(s, dir, "documents")
      .select(explode(Text.normTokens($"text")).as("tok"))
    // n_total rides the sketch pass (one extra counter in the same
    // aggregate), so the corpus is scanned exactly twice
    val first = toks.agg(
      graft.functions.SketchAgg.misraGries($"tok", HhK).as("cand"),
      count(lit(1)).as("n_total")).head()
    val cand = first.getSeq[String](0)
    val nTotal = first.getLong(1)
    toks.filter($"tok".isin(cand: _*))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * lit(HhK.toLong) > nTotal)
      .select($"tok".as("token"), $"cnt", lit(nTotal).as("n_total"))
      .orderBy($"token")
  }

  /** The document-filter FUNNEL — the composed keep/drop decision a
    * pretraining pipeline applies per document, in the canonical order
    * (dedup before quality, so a short duplicate reports 'duplicate'):
    * exact-fingerprint duplicate → too-short → boilerplate-stopword-ratio.
    * Output is the per-doc verdict (kept, first-failing drop_reason) the
    * downstream mix consumes. ONE pass over the corpus: the only shuffle
    * is the fingerprint window the dedup gate already needs; the quality
    * signals are the same codegen'd expressions graded individually by
    * text_quality. First-fail semantics mirror production funnels, where
    * a doc dropped early never pays the later gates' compute. */
  private val pipelineDocFilter: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy(Text.fingerprint($"text")).orderBy($"doc_id")
    Tables(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_tokens", Text.tokenCount($"text"))
      .withColumn("stopword_ratio",
        round(Text.stopwordCount($"text").cast("double") / Text.tokenCount($"text"), 6))
      .withColumn("drop_reason",
        when($"rn" =!= 1, "duplicate")
          .when($"n_tokens" < 20, "short")
          .when($"stopword_ratio" > 0.2, "boilerplate")
          .otherwise(lit(null).cast("string")))
      .select($"doc_id", $"drop_reason".isNull.as("kept"), $"drop_reason")
      .orderBy($"doc_id")
  }

  /** Corpus-level document-frequency stats per doc — the IDF-style rarity
    * signal a quality filter uses, with INTEGER outputs only (an avg-IDF
    * double would sum floats in engine-local order and break bit-exact
    * comparison). Two shuffles — per-token DF, then per-doc stats — the
    * canonical TF-IDF plan shape at any scale. */
  private val textDfStats: Q = (s, dir) => {
    import s.implicits._
    val toks = Tables(s, dir, "documents")
      .select($"doc_id",
        explode(array_distinct(Text.normTokens($"text"))).as("tok"))
    val dfreq = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
    toks.join(dfreq, Seq("tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_distinct_tokens"),
        sum(when($"df" <= 2, 1).otherwise(0)).as("n_rare_tokens"),
        min($"df").as("min_df"),
        max($"df").as("max_df"))
      .orderBy($"doc_id")
  }

  /** Token + char counting: whitespace tokens and BPE-ish subword chunks. */
  private val textTokens: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "documents").select(
        $"doc_id",
        Text.tokenCount($"text").as("n_tokens"),
        Text.bpeTokenCount($"text").as("n_bpe_chunks"),
        Text.charCount($"text").as("n_chars_actual"),
        $"n_chars")
      .orderBy($"doc_id")
  }

  /** Deterministic fingerprints: order-insensitive md5 of normalized text
    * plus the order-sensitive polynomial rolling hash.
    * Spread first (r18): `Probe stages` measured the old plan as two
    * single-task CPU stages (1.8 s + 1.5 s at sf0.1 — one parquet split,
    * and the output sort's range-sampling pass re-evaluates the
    * projection), i.e. the per-doc hashing ran twice on one core. Pure
    * per-row projection, so the repartition cannot move any value. */
  private val textFingerprint: Q = (s, dir) => {
    import s.implicits._
    SimilarityQueries.spread(Tables(s, dir, "documents")).select(
        $"doc_id",
        Text.fingerprint($"text").as("fingerprint"),
        Text.rollingHash($"text").as("rolling_hash"))
      .orderBy($"doc_id")
  }

  /** TRAINED language ID — the Cavnar–Trenkle-style character-n-gram
    * profile classifier next to the fixed marker-word heuristic
    * ([[textLangId]]): char-trigram frequency profiles are trained on the
    * labeled held-out slice (doc_id % 50 = 0, the same slice every
    * trained key uses), broadcast, and each remaining doc is scored per
    * language by the summed profile counts of its distinct trigrams —
    * argmax with a fixed language tie order. Scores stay exact integers
    * (counts, no tf-idf floats), so the whole train→score→argmax loop
    * replays in DuckDB. Plan: one tiny profile aggregate (bounded by the
    * trigram domain) broadcast to a map-side join; the corpus side pays
    * one trigram fan-out + one doc-grain shuffle —
    * `TrainingQueries.textLmScore`'s shape over characters instead of
    * words.
    *
    * Measured accuracy is volume-dependent by nature (the synthetic
    * corpus draws all languages from one shared vocabulary): ~10 train
    * docs/lang at sf0.001 is noise-dominated (0.16), 500/lang at sf0.1
    * reaches 0.41 vs the 0.25 four-way chance floor — the honest "how
    * much labeled data does the profile need" curve. */
  private val textLangidTrained: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    // spread the trigram fan-out (r18): `Probe stages` measured it as ONE
    // 2.4 s single-task CPU stage at sf0.1 (single parquet split); the
    // profile/score aggregates are order-free integer counts
    val grams = SimilarityQueries.spread(docs)
      .withColumn("norm", Text.normalized($"text"))
      .select($"doc_id", $"lang", explode(array_distinct(expr(
        "transform(sequence(1, greatest(length(norm) - 2, 1))," +
          " i -> substring(norm, i, 3))"))).as("tg"))
    val prof = grams.filter($"doc_id" % 50 === 0)
      .groupBy($"lang".as("plang"), $"tg").agg(count(lit(1)).as("pc"))
    val scores = grams.filter($"doc_id" % 50 =!= 0)
      .join(broadcast(prof), Seq("tg"))
      .groupBy($"doc_id", $"plang").agg(sum($"pc").as("score"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"plang")
    val pred = scores.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"doc_id", $"plang", $"score")
    docs.filter($"doc_id" % 50 =!= 0).select($"doc_id", $"lang")
      .join(pred, Seq("doc_id"), "left")
      .withColumn("predicted_lang", coalesce($"plang", lit("unknown")))
      .select($"doc_id", $"lang", $"predicted_lang",
        coalesce($"score", lit(0L)).as("best_score"),
        ($"lang" === $"predicted_lang").as("correct"))
      .orderBy($"doc_id")
  }

  /** Paragraph width for [[dedupParagraph]] (tokens per paragraph). */
  private val ParaW = 4

  /** The positional paragraphizer as ONE bound expression: the tokenizer
    * is lambda-bound so it evaluates once per row — inlined into the
    * per-paragraph lambda it would re-tokenize per paragraph (the same
    * per-element re-evaluation trap measured at ~50× in text_winnowing). */
  private def paraArray: Column =
    element_at(transform(array(Text.normTokens(col("text"))), tk =>
      transform(sequence(lit(0), ((size(tk) + ParaW - 1) / ParaW).cast("int") - 1),
        g => array_join(slice(tk, g * ParaW + 1, lit(ParaW)), " "))), 1)

  /** PARAGRAPH-level dedup — the CCNet regime: dedup at sub-document
    * granularity and REASSEMBLE the cleaned documents, so a doc that
    * shares boilerplate with the corpus loses just those paragraphs, not
    * its whole body. The synthetic corpus has no newline structure, so the
    * paragraphizer is positional ([[ParaW]]-token groups — the same
    * fixed-grid chunker as text_chunk); on real data the split(·) is the
    * only line that changes. Keeper is the GLOBAL first occurrence by
    * (doc_id, position) — deterministic under any partitioning, which is
    * what makes the reassembled text hash-gradable. Plan: one shuffle on
    * the paragraph md5 (the window), one shuffle back on doc_id for
    * reassembly — both linear; at 100 TB this is exactly the sharded
    * paragraph-hash dedup CCNet runs. */
  private val dedupParagraph: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy(md5($"part")).orderBy($"doc_id", $"pos")
    paragraphs(Tables(s, dir, "documents"))
      .withColumn("rn", row_number().over(w))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_parts"),
        sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_kept"),
        reassembled($"rn" === 1).as("cleaned_text"))
      .orderBy($"doc_id")
  }

  /** One row per paragraph of `docs`: (doc_id, pos, part). */
  private def paragraphs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(paraArray))
      .withColumnRenamed("col", "part")

  /** A document's paragraphs that pass `keep`, rejoined in position order
    * — sorting the collected (pos, part) structs pins the order instead of
    * trusting collect_list's arrival order. */
  private def reassembled(keep: Column): Column =
    array_join(transform(
      array_sort(collect_list(when(keep, struct(col("pos"), col("part"))))),
      x => x.getField("part")), " ")

  /** Winnowing k-gram size / window width. */
  private val WinK = 3
  private val WinW = 4

  /** WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): hash every [[WinK]]-token gram, slide a [[WinW]]-gram
    * window, keep each window's MINIMUM hash, emit the distinct kept set.
    * The guarantee the rolling-hash/minhash rungs don't give: any shared
    * token run of ≥ k + w − 1 tokens between two documents shares at least
    * one SELECTED fingerprint (a window fits inside the run, and equal
    * windows select equal minima) — local, position-robust overlap
    * detection with a 2/(w+1) expected selection density instead of
    * every-gram storage. All per-document array work (gram hashing via the
    * same md5-derived hash60 the LSH family uses, window minima, distinct)
    * runs inside ONE codegen'd projection — shuffle-free scan at any
    * corpus size; the emitted density/xor/min/max digest keeps every cell
    * an exact BIGINT so the whole selection replays in DuckDB. */
  private val textWinnowing: Q = (s, dir) => {
    import s.implicits._
    val emptyLongs = expr("CAST(array() AS ARRAY<BIGINT>)")
    // LAMBDA-BIND each intermediate array exactly once: wrap it in a
    // 1-element array and compute downstream inside the lambda, where it
    // is a bound variable. Without this, CollapseProject inlines the
    // gram-hash expression into EVERY window's slice (lambda bodies defeat
    // codegen subexpression elimination) — measured ~45× recompute and an
    // 11 s sf0.1 key; bound, it is one pass (0.6 s).
    def bound(a: Column)(f: Column => Column): Column =
      element_at(transform(array(a), f), 1)
    // the tokenizer MUST be bound before any lambda references it: an
    // inline expression inside `transform`'s lambda body re-evaluates per
    // ELEMENT (measured ~50× per row = a 10 s sf0.1 key; bound, 1 s)
    val digest = bound(Text.normTokens($"text")) { toks =>
    // gram hashes: hash60(tok_i .. tok_{i+k-1}) for i = 1..n-k+1
    // (sequence(1, hi) DESCENDS when hi < 1, so short docs guard to empty)
    val grams = when(size(toks) >= WinK, transform(
      sequence(lit(1), size(toks) - (WinK - 1)),
      i => Vectors.hash60(concat_ws(" ", slice(toks, i, lit(WinK))))))
      .otherwise(emptyLongs)
    bound(grams) { g =>
      // window minima: min(g[j..j+w-1]) for j = 1..len-w+1
      val mins = when(size(g) >= WinW, transform(
        sequence(lit(1), size(g) - (WinW - 1)),
        j => array_min(slice(g, j, lit(WinW)))))
        .otherwise(emptyLongs)
      bound(array_distinct(mins)) { fps =>
        struct(size(g).as("n_grams"),
          size(fps).as("n_fingerprints"),
          array_min(fps).as("min_fp"),
          array_max(fps).as("max_fp"),
          aggregate(fps, lit(0L), (acc, x) => acc.bitwiseXOR(x)).as("xor_fp"))
      }
    }
    }
    // spread the digest projection (r18): `Probe stages` measured two ~1 s
    // single-task CPU stages at sf0.1 (single parquet split + the output
    // sort's sampling pass); pure per-row work, values can't move
    SimilarityQueries.spread(Tables(s, dir, "documents"))
      .withColumn("d", digest)
      .select($"doc_id", $"d.n_grams", $"d.n_fingerprints",
        $"d.min_fp", $"d.max_fp", $"d.xor_fp")
      .orderBy($"doc_id")
  }

  /** INCREMENTAL paragraph dedup — the fourth member of the incremental
    * family (minhash text / semantic / IVF / this): the APPENDED documents
    * (newest quarter by id, the family's split convention) probe the
    * EXISTING corpus's paragraph-hash index one-sidedly — never
    * existing-vs-existing, that work was paid on previous days. Each
    * newcomer reports how many of its paragraphs are already known
    * boilerplate and reassembles only its NOVEL content, which is what a
    * daily ingest actually forwards to training. Cost is O(new paragraphs
    * · bucket) plus the (in production, persisted) index build; the probe
    * is a hash-partitioned semi-join, index size enters only through the
    * bucket constant. Within-batch duplicates are deliberately NOT
    * collapsed here — that is [[dedupParagraph]]'s batch contract; this
    * key's contract is newcomer-vs-index, and keeping them separate is
    * what makes both oracles exact. */
  private val dedupParagraphIncremental: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val split = 3L * docs.count() / 4L
    val paras = hashedParagraphs(docs)
    val index = paras.filter($"doc_id" < split).select($"h").distinct()
    novelParagraphs(paras.filter($"doc_id" >= split), index)
  }

  /** [[paragraphs]] with each paragraph's md5 `h`, the index key. */
  private def hashedParagraphs(docs: DataFrame): DataFrame =
    paragraphs(docs).withColumn("h", md5(col("part")))

  /** The newcomer-vs-index verdict: per incoming document, its paragraph
    * count, how many of them the paragraph-hash `index` (column `h`)
    * holds, and its reassembled novel remainder. The one-shot key derives
    * `index` in-plan; the batch twin reads the landed `para_index`. */
  private def novelParagraphs(incoming: DataFrame, index: DataFrame): DataFrame =
    incoming.join(index.withColumn("known", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_parts"),
        sum(when(col("known") === 1, 1L).otherwise(0L)).as("n_known"),
        reassembled(col("known").isNull).as("novel_text"))
      .orderBy(col("doc_id"))

  /** Batch-1 of the appended-batch twin (VERDICT r15 #4): the distinct
    * paragraph-hash index of docs < `split`, PERSISTED ([[BatchState]]) —
    * "(in production, persisted)" above made real. */
  private[graft] def paragraphBatchBuild(s: SparkSession, dir: String, split: Long): Unit = {
    import s.implicits._
    BatchState.persist(s, "para_index",
      Tables(s, dir, "documents").filter($"doc_id" < split)
        .select(explode(paraArray).as("part"))
        .select(md5($"part").as("h"))
        .distinct())
  }

  /** Batch-2: appended docs probe the LANDED paragraph index. */
  private[graft] def paragraphBatchProbe(s: SparkSession, dir: String, split: Long): DataFrame =
    novelParagraphs(
      hashedParagraphs(Tables(s, dir, "documents").filter(col("doc_id") >= split)),
      ParquetFormat.read(s, s"${BatchState.root}/para_index"))

  private val dedupParagraphIncrementalBatch: Q = (s, dir) => {
    val split = 3L * Tables(s, dir, "documents").count() / 4L
    paragraphBatchBuild(s, dir, split)
    paragraphBatchProbe(s, dir, split)
  }

  /** Count-min-sketch width / depth. Width is deliberately NARROW for the
    * 31-word synthetic vocabulary so the graded output exercises both
    * regimes — colliding cells (positive overcount) and clean ones (zero)
    * — in one run; production sizing is w ≈ e/ε (thousands), same plan. */
  private val CmsW = 32
  private val CmsD = 3

  /** COUNT-MIN SKETCH frequency estimation — the fixed-memory complement
    * to the Misra–Gries pass ([[textHeavyHitters]] answers "which tokens
    * are frequent"; this answers "how frequent is ANY token" from d·w
    * counters). The sketch is d=[[CmsD]] rows × w=[[CmsW]] hash-derived
    * buckets (3×32 = 96 cells here; see the sizing note above) built in
    * ONE hash aggregate whose state is bounded at d·w cells no matter
    * the corpus (each token instance increments one bucket per row;
    * partial aggregation combines map-side). Estimates are
    * min_i(row_i[bucket_i(tok)]) via d broadcast joins of the tiny sketch
    * — the 100 TB read path: the sketch ships to every executor, point
    * queries never shuffle. The output grades the CMS CONTRACT with exact
    * integers: est ≥ exact always (`overcount` ≥ 0 — collisions only ADD),
    * which the oracle re-derives by replaying the identical md5 bucketing
    * in SQL — the sketch is deterministic, so every cell hash-matches. */
  private val textCmsFreq: Q = (s, dir) => {
    import s.implicits._
    // spread the tokenize fan-out (r18): `Probe stages` measured three ~1.25 s
    // single-task CPU stages (the sketch pass, the exact pass, and the
    // output sort's sampling pass each re-run the projection over the one
    // parquet split); counts are order-free
    val toks = SimilarityQueries.spread(Tables(s, dir, "documents"))
      .select(explode(Text.normTokens($"text")).as("tok"))
    def bucket(i: Int, tok: Column) =
      pmod(Vectors.hash60(concat(lit(s"cms${i}_"), tok)), lit(CmsW.toLong))
    val sketch = toks
      .select(explode(array((0 until CmsD).map(i =>
        struct(lit(i).as("r"), bucket(i, $"tok").as("b"))): _*)).as("rb"))
      .groupBy($"rb.r".as("r"), $"rb.b".as("b"))
      .agg(count(lit(1)).as("c"))
    val exact = toks.groupBy($"tok").agg(count(lit(1)).as("exact_cnt"))
    val est = (0 until CmsD).foldLeft(exact) { (df, i) =>
      df.join(broadcast(sketch.filter($"r" === i)
          .select($"b".as(s"b$i"), $"c".as(s"c$i"))),
        bucket(i, col("tok")) === col(s"b$i"))
    }
    est.select($"tok".as("token"), $"exact_cnt",
        least($"c0", $"c1", $"c2").as("cms_est"),
        (least($"c0", $"c1", $"c2") - $"exact_cnt").as("overcount"))
      .orderBy($"token")
  }

  /** Marker-word language ID with fixed tie order; compared to the labeled
    * lang column. */
  private val textLangId: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "documents").select(
        $"doc_id",
        $"lang",
        Text.langId($"text").as("predicted_lang"),
        Text.langScore($"text", "en").as("en_score"))
      .orderBy($"doc_id")
  }

  /** Quality features: token stats, punctuation/stopword ratios, band. */
  private val textQuality: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    docs.select(
        $"doc_id",
        Text.tokenCount($"text").as("n_tokens"),
        round(Text.avgTokenLen($"text"), 6).as("avg_token_len"),
        Text.punctCount($"text").as("n_punct"),
        Text.stopwordCount($"text").as("n_stopwords"))
      .withColumn("stopword_ratio",
        round($"n_stopwords".cast("double") / $"n_tokens", 6))
      .withColumn("quality_band",
        when($"n_tokens" < 20, lit("short"))
          .when($"stopword_ratio" > 0.2, lit("boilerplate"))
          .otherwise(lit("ok")))
      .orderBy($"doc_id")
  }

  /** Exact dedup: keep the lowest doc_id per normalized-text fingerprint
    * (deterministic representative). One shuffle on the md5 key; at 100 TB
    * this is the canonical hash-partition dedup. */
  private val dedupExact: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val w = Window.partitionBy(Text.fingerprint($"text")).orderBy($"doc_id")
    docs.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  private val normSql =
    "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
  private val tokensSql =
    s"regexp_split_to_array(trim(text), '\\s+')"
  private val normTokensSql =
    s"regexp_split_to_array(trim($normSql), '\\s+')"

  private def markerList(lang: String): String =
    Text.markers.toMap.apply(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  private def langScoreSql(lang: String): String =
    s"len(list_intersect(list_distinct($normTokensSql), ${markerList(lang)}))"

  private val stopwordsSql: String =
    Text.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  def oracle: Map[String, String] = Map(
    "text_df_stats" ->
      s"""WITH toks AS (
         | SELECT doc_id, unnest(list_distinct($normTokensSql)) AS tok FROM documents),
         |dfreq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok)
         |SELECT doc_id,
         | COUNT(*) AS n_distinct_tokens,
         | CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare_tokens,
         | MIN(df) AS min_df,
         | MAX(df) AS max_df
         |FROM toks JOIN dfreq USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      s"""SELECT doc_id,
         | len($tokensSql) AS n_tokens,
         | CAST(len(regexp_extract_all(lower(text), '${Text.bpePattern}')) AS INT) AS n_bpe_chunks,
         | length(text) AS n_chars_actual,
         | n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id, md5($normSql) AS fingerprint,
         | list_reduce(list_prepend(0::BIGINT,
         |   [CAST(CONCAT('0x', SUBSTR(md5(t), 1, 15)) AS BIGINT) % 1000000 FOR t IN $normTokensSql]),
         |   (a, b) -> (a * 31 + b) % 1073741789) AS rolling_hash
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_langid" -> {
      val en = langScoreSql("en"); val de = langScoreSql("de")
      val es = langScoreSql("es"); val fr = langScoreSql("fr")
      s"""SELECT doc_id, lang,
         | CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr THEN 'en'
         |      WHEN $de >= $es AND $de >= $fr THEN 'de'
         |      WHEN $es >= $fr THEN 'es'
         |      ELSE 'fr' END AS predicted_lang,
         | $en AS en_score
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "text_quality" ->
      s"""WITH feat AS (
         | SELECT doc_id,
         |  len($normTokensSql) AS n_tokens,
         |  round(CAST(length(list_aggregate($normTokensSql, 'string_agg', '')) AS DOUBLE)
         |        / len($normTokensSql), 6) AS avg_token_len,
         |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |  len(list_filter($normTokensSql, t -> list_contains($stopwordsSql, t))) AS n_stopwords
         | FROM documents)
         |SELECT doc_id, n_tokens, avg_token_len, n_punct, n_stopwords,
         | round(CAST(n_stopwords AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
         | CASE WHEN n_tokens < 20 THEN 'short'
         |      WHEN round(CAST(n_stopwords AS DOUBLE) / n_tokens, 6) > 0.2 THEN 'boilerplate'
         |      ELSE 'ok' END AS quality_band
         |FROM feat ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      s"""SELECT doc_id, lang, source FROM (
         | SELECT doc_id, lang, source,
         |  ROW_NUMBER() OVER (PARTITION BY md5($normSql) ORDER BY doc_id) AS rn
         | FROM documents) WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,

    // trained profiles, scoring, and argmax all replay as exact integers
    "text_langid_trained" ->
      raw"""WITH nd AS (SELECT doc_id, lang,
           |  lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm FROM documents),
           |g AS (SELECT doc_id, lang, unnest(list_distinct(
           |  [substr(norm, i, 3) FOR i IN range(1, greatest(length(norm) - 2, 1) + 1)])) AS tg
           | FROM nd),
           |prof AS (SELECT lang AS plang, tg, COUNT(*) AS pc
           | FROM g WHERE doc_id % 50 = 0 GROUP BY 1, 2),
           |sc AS (SELECT g.doc_id, p.plang, CAST(SUM(p.pc) AS BIGINT) AS score
           | FROM g JOIN prof p USING (tg) WHERE g.doc_id % 50 <> 0 GROUP BY 1, 2),
           |pred AS (SELECT doc_id, plang, score FROM (
           |  SELECT doc_id, plang, score,
           |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) rn
           |  FROM sc) WHERE rn = 1)
           |SELECT d.doc_id, d.lang,
           | COALESCE(p.plang, 'unknown') AS predicted_lang,
           | CAST(COALESCE(p.score, 0) AS BIGINT) AS best_score,
           | d.lang = COALESCE(p.plang, 'unknown') AS correct
           |FROM documents d LEFT JOIN pred p USING (doc_id)
           |WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""".stripMargin,

    // the positional paragraphizer, global-first-occurrence keeper, and
    // ordered reassembly all replay exactly; COALESCE('') matches Spark's
    // empty array_join for fully-deduplicated docs
    "dedup_paragraph" ->
      s"""WITH nd AS (SELECT doc_id, $normTokensSql AS toks FROM documents),
         |pp AS (SELECT doc_id, CAST(g AS INT) AS pos,
         |  array_to_string(toks[(g*$ParaW+1):(g*$ParaW+$ParaW)], ' ') AS part
         | FROM nd, UNNEST(range((len(toks) + $ParaW - 1) // $ParaW)) AS t(g)),
         |r AS (SELECT doc_id, pos, part,
         |  ROW_NUMBER() OVER (PARTITION BY md5(part) ORDER BY doc_id, pos) rn
         | FROM pp)
         |SELECT doc_id, COUNT(*) AS n_parts,
         | CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         | COALESCE(string_agg(CASE WHEN rn = 1 THEN part END, ' ' ORDER BY pos), '')
         |   AS cleaned_text
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the one-sided newcomer-vs-index probe replays exactly: same
    // paragraphizer, split = 3n/4 integer-divided, known = hash in the
    // existing quarter's distinct hash set
    // appended-batch twin: the index side reads the LANDED distinct-hash
    // parquet (paragraphBatchBuild) — a write bug fails the compare
    "dedup_paragraph_incremental_batch" ->
      s"""WITH nd AS (SELECT doc_id, $normTokensSql AS toks FROM documents),
         |t AS (SELECT (3 * COUNT(*)) // 4 AS split FROM documents),
         |pp AS (SELECT doc_id, CAST(g AS INT) AS pos,
         |  array_to_string(toks[(g*$ParaW+1):(g*$ParaW+$ParaW)], ' ') AS part
         | FROM nd, UNNEST(range((len(toks) + $ParaW - 1) // $ParaW)) AS u(g)),
         |ph AS (SELECT doc_id, pos, part, md5(part) AS h FROM pp),
         |idx AS (SELECT h FROM ${BatchState.sql("para_index")}),
         |inc AS (SELECT ph.* FROM ph, t WHERE doc_id >= split)
         |SELECT doc_id, COUNT(*) AS n_parts,
         | CAST(SUM(CASE WHEN h IN (SELECT h FROM idx) THEN 1 ELSE 0 END) AS BIGINT) AS n_known,
         | COALESCE(string_agg(CASE WHEN h NOT IN (SELECT h FROM idx) THEN part END,
         |   ' ' ORDER BY pos), '') AS novel_text
         |FROM inc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_paragraph_incremental" ->
      s"""WITH nd AS (SELECT doc_id, $normTokensSql AS toks FROM documents),
         |t AS (SELECT (3 * COUNT(*)) // 4 AS split FROM documents),
         |pp AS (SELECT doc_id, CAST(g AS INT) AS pos,
         |  array_to_string(toks[(g*$ParaW+1):(g*$ParaW+$ParaW)], ' ') AS part
         | FROM nd, UNNEST(range((len(toks) + $ParaW - 1) // $ParaW)) AS u(g)),
         |ph AS (SELECT doc_id, pos, part, md5(part) AS h FROM pp),
         |idx AS (SELECT DISTINCT h FROM ph, t WHERE doc_id < split),
         |inc AS (SELECT ph.* FROM ph, t WHERE doc_id >= split)
         |SELECT doc_id, COUNT(*) AS n_parts,
         | CAST(SUM(CASE WHEN h IN (SELECT h FROM idx) THEN 1 ELSE 0 END) AS BIGINT) AS n_known,
         | COALESCE(string_agg(CASE WHEN h NOT IN (SELECT h FROM idx) THEN part END,
         |   ' ' ORDER BY pos), '') AS novel_text
         |FROM inc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // gram hashing, window minima, and the distinct selection all replay;
    // the digest columns are order-insensitive so list_distinct's internal
    // order never matters
    "text_winnowing" ->
      s"""WITH nd AS (SELECT doc_id, $normTokensSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= $WinK THEN
         |   [CAST(CONCAT('0x', SUBSTR(md5(array_to_string(toks[i:i+${WinK - 1}], ' ')), 1, 15)) AS BIGINT)
         |    FOR i IN range(1, len(toks) - ${WinK - 1} + 1)]
         |  ELSE CAST([] AS BIGINT[]) END AS grams
         | FROM nd),
         |m AS (SELECT doc_id, grams,
         |  CASE WHEN len(grams) >= $WinW THEN
         |   list_distinct([list_min(grams[j:j+${WinW - 1}]) FOR j IN range(1, len(grams) - ${WinW - 1} + 1)])
         |  ELSE CAST([] AS BIGINT[]) END AS fps
         | FROM g)
         |SELECT doc_id, len(grams) AS n_grams, len(fps) AS n_fingerprints,
         | list_min(fps) AS min_fp, list_max(fps) AS max_fp,
         | list_reduce(list_prepend(0::BIGINT, fps), (a, b) -> xor(a, b)) AS xor_fp
         |FROM m ORDER BY doc_id""".stripMargin,

    // the d×w sketch and the md5 bucketing replay bit-for-bit, so the
    // estimates (not just the contract booleans) hash-match
    "text_cms_freq" ->
      s"""WITH toks AS (SELECT unnest($normTokensSql) AS tok FROM documents),
         |sk AS (SELECT i AS r,
         |  CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms', i, '_', tok)), 1, 15)) AS BIGINT)
         |    % $CmsW AS b, COUNT(*) AS c
         | FROM toks CROSS JOIN (SELECT unnest(range($CmsD)) AS i) GROUP BY 1, 2),
         |ex AS (SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok)
         |SELECT ex.tok AS token, exact_cnt,
         | LEAST(s0.c, s1.c, s2.c) AS cms_est,
         | LEAST(s0.c, s1.c, s2.c) - exact_cnt AS overcount
         |FROM ex
         |JOIN sk s0 ON s0.r = 0 AND s0.b =
         | CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms0_', ex.tok)), 1, 15)) AS BIGINT) % $CmsW
         |JOIN sk s1 ON s1.r = 1 AND s1.b =
         | CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms1_', ex.tok)), 1, 15)) AS BIGINT) % $CmsW
         |JOIN sk s2 ON s2.r = 2 AND s2.b =
         | CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms2_', ex.tok)), 1, 15)) AS BIGINT) % $CmsW
         |ORDER BY token""".stripMargin,

    // exact ground truth: the sketch's two-pass output IS the exact
    // heavy-hitter set, so the oracle needs no sketch — just the HAVING
    "text_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest($normTokensSql) AS tok FROM documents),
         |t AS (SELECT COUNT(*) AS n_total FROM toks)
         |SELECT tok AS token, COUNT(*) AS cnt, (SELECT n_total FROM t) AS n_total
         |FROM toks GROUP BY tok
         |HAVING COUNT(*) * $HhK > (SELECT n_total FROM t)
         |ORDER BY token""".stripMargin,

    // the funnel replays its gates from the same fragments the individual
    // oracles use — first-fail CASE ordering is the contract under test
    "pipeline_doc_filter" ->
      s"""WITH f AS (SELECT doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY md5($normSql) ORDER BY doc_id) AS rn,
         |  len($normTokensSql) AS n_tokens,
         |  round(CAST(len(list_filter($normTokensSql, t -> list_contains($stopwordsSql, t))) AS DOUBLE)
         |        / len($normTokensSql), 6) AS stopword_ratio
         | FROM documents),
         |r AS (SELECT doc_id,
         |  CASE WHEN rn <> 1 THEN 'duplicate'
         |       WHEN n_tokens < 20 THEN 'short'
         |       WHEN stopword_ratio > 0.2 THEN 'boilerplate' END AS drop_reason
         | FROM f)
         |SELECT doc_id, drop_reason IS NULL AS kept, drop_reason
         |FROM r ORDER BY doc_id""".stripMargin
  )
}
