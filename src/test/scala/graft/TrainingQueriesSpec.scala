package graft

import org.apache.spark.sql.functions._

import graft.queries.TrainingQueries

/** Semantic invariants for the training-data pack (value-level equality
  * vs DuckDB is the oracle's job; these pin the properties the oracle
  * can't see, like determinism and intra-result consistency). */
class TrainingQueriesSpec extends SparkSpec {

  private def run(name: String) =
    TrainingQueries.queries(name)(spark, sfDir)

  test("text_repetition: ratios bounded, distinct counts consistent") {
    val bad = run("text_repetition").filter(
      col("n_distinct_words") > col("n_words") ||
        col("n_distinct_bigrams") > greatest(col("n_bigrams"), lit(1)) ||
        col("dup_word_ratio") < 0 || col("dup_word_ratio") > 1 ||
        col("dup_bigram_ratio") < 0 || col("dup_bigram_ratio") > 1)
    assert(bad.count() === 0)
  }

  test("text_seq_pack: offsets are contiguous within each source shard") {
    val rows = run("text_seq_pack")
      .orderBy("source", "doc_id")
      .select("source", "n_tokens", "start_offset", "bin_first", "bin_last")
      .collect()
    rows.groupBy(_.getString(0)).foreach { case (_, shard) =>
      var expected = 0L
      shard.foreach { r =>
        assert(r.getLong(2) === expected, "start_offset must be the running sum")
        assert(r.getLong(3) === r.getLong(2) / 128)
        assert(r.getLong(4) === (r.getLong(2) + r.getInt(1) - 1) / 128)
        expected += r.getInt(1)
      }
    }
  }

  test("text_tfidf: ranks dense 1..3 and scores non-increasing per doc") {
    val rows = run("text_tfidf").select("doc_id", "rank", "score").collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq === (1 to sorted.length))
      val scores = sorted.map(_.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("text_decontaminate: only corpus-vs-benchmark pairs, n_shared >= 3") {
    val df = run("text_decontaminate")
    assert(df.count() > 0, "threshold too strict: no contaminated pairs found")
    assert(df.filter(col("bench_id") % 50 =!= 0 || col("doc_id") % 50 === 0
      || col("n_shared") < 3).count() === 0)
  }

  test("rare-shingle twins are dominated by the exact keys") {
    // restricting the join to rare shingles can only DROP shared-shingle
    // evidence: every (doc, bench) the rare twin flags must appear in the
    // exact key's output with n_shared >= n_shared_rare (same for chunks)
    val exact = run("text_decontaminate")
      .select(col("doc_id"), col("bench_id"), col("n_shared"))
    val rare = run("text_decontaminate_rare")
    assert(rare.count() > 0, "rare twin found nothing on the healthy corpus")
    val joined = rare.join(exact, Seq("doc_id", "bench_id"), "left")
    assert(joined.filter(col("n_shared").isNull ||
      col("n_shared") < col("n_shared_rare")).count() === 0,
      "rare twin flagged a pair the exact key does not dominate")
    val chExact = run("text_chunk_decontaminate")
      .select(col("doc_id"), col("chunk_idx"), col("bench_id"), col("n_shared"))
    val chRare = run("text_chunk_decontaminate_rare")
    val chJoined = chRare.join(chExact, Seq("doc_id", "chunk_idx", "bench_id"), "left")
    assert(chJoined.filter(col("n_shared").isNull ||
      col("n_shared") < col("n_shared_rare")).count() === 0,
      "chunk rare twin flagged a window the exact key does not dominate")
  }

  test("decontamination fence: tiny budget refuses the exact keys, twins stay open") {
    val s2 = spark.newSession()
    s2.conf.set("graft.maxDecontamJoinRows", "1")
    for (q <- Seq("text_decontaminate", "text_chunk_decontaminate")) {
      val e = intercept[IllegalArgumentException](
        TrainingQueries.queries(q)(s2, sfDir))
      assert(e.getMessage.contains("text_decontaminate_rare") &&
        e.getMessage.contains("graft.maxDecontamJoinRows"),
        s"unhelpful decontamination fence message for $q: $e")
    }
    // the rare twins are exempt — they bound the join mass by construction
    assert(TrainingQueries.queries("text_decontaminate_rare")(s2, sfDir)
      .columns.contains("n_shared_rare"))
    // and the default budget passes the graded healthy corpora
    assert(run("text_decontaminate").count() > 0)
  }

  test("decontamination fence is exact at the chunk key's scaled boundary") {
    // the chunk key compares work·(W/S)² = work·1024/576 with the budget;
    // a budget of ⌊work·1024/576⌋ sits just under the scaled mass and
    // must refuse (truncating the scaled mass first admitted it). The
    // sf corpus' work (486) is a multiple of 9, putting the scaled mass on
    // an integer, so the fixture is one benchmark doc (doc_id 0) whose
    // single 3-gram ten training docs share: work = 10·1, scaled 17.78.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("decon_boundary").toString
    (0L to 10L).map(_ -> "alpha beta gamma").toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val w = TrainingQueries.deconJoinWork(spark, dir)
    assert(w * 1024 % 576 != 0, s"work $w puts the scaled mass on an integer")
    val floor = w * 1024 / 576
    val under = spark.newSession()
    under.conf.set("graft.maxDecontamJoinRows", floor.toString)
    val e = intercept[IllegalArgumentException](
      TrainingQueries.queries("text_chunk_decontaminate")(under, dir))
    assert(e.getMessage.contains("graft.maxDecontamJoinRows"), e.getMessage)
    // one more unit covers the scaled mass and builds
    val over = spark.newSession()
    over.conf.set("graft.maxDecontamJoinRows", (floor + 1).toString)
    assert(TrainingQueries.queries("text_chunk_decontaminate")(over, dir)
      .columns.contains("n_shared"))
  }

  test("sample_stratified: buckets respect per-language rates, deterministic") {
    val df = run("sample_stratified")
    val bad = df.filter(col("bucket") >=
      when(col("lang") === "en", 50).when(col("lang") === "de", 25).otherwise(10))
    assert(bad.count() === 0)
    // Deterministic: a second run yields the identical id set.
    val a = df.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = run("sample_stratified").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("sample_domain_mix: quotas capped at availability, budget respected, deterministic") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val avail = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val budget = avail.values.sum / 2
    val picked = run("sample_domain_mix").groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // never exceed a domain's availability; the over-weighted src0 is
    // exactly capped (its declared share exceeds what exists)
    picked.foreach { case (s, n) => assert(n <= avail(s), s"$s over-sampled") }
    assert(picked("src0") === avail("src0"), "src0 must cap at availability")
    // the mixture fills the budget up to integer-DIV remainder losses
    // (one redistribution round leaves < #domains docs on the table)
    val total = picked.values.sum
    assert(total <= budget, "budget exceeded")
    assert(budget - total < avail.size.toLong, s"left $total of $budget unfilled")
    // deterministic: a second run yields the identical id set
    val a = run("sample_domain_mix").select("doc_id").collect().map(_.getLong(0)).toSet
    val b = run("sample_domain_mix").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("text_pii_redact: every injected PII class is found and masked") {
    val df = run("text_pii_redact")
    assert(df.filter(col("n_emails") < 1 || col("n_phones") < 1 || col("n_ips") < 1)
      .count() === 0)
    val leaked = df.filter(col("redacted_tail").rlike("[0-9@]"))
    assert(leaked.count() === 0, "digits or @ survived redaction")
  }

  test("l_explode_pack: positions dense from 0 per doc") {
    val rows = run("l_explode_pack").select("doc_id", "pos").collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getInt(1)).sorted.toSeq === (0 until g.length))
    }
  }

  test("text_chunk_decontaminate: every chunk-level flag implies the doc-level flag") {
    // a chunk's shingles are a subset of its document's, so a (doc, bench)
    // pair flagged at chunk level (>= 3 shared in ONE window) must also be
    // flagged by the doc-level key — the chunk key localizes, never invents
    val chunk = run("text_chunk_decontaminate")
      .select("doc_id", "bench_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(chunk.nonEmpty, "no chunk-level leak found — threshold or grid broke")
    val doc = run("text_decontaminate")
      .select("doc_id", "bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(chunk.subsetOf(doc),
      s"chunk flags not contained in doc flags: ${chunk.diff(doc)}")
  }

  test("text_chunk: windows tile every document with the declared stride") {
    val rows = run("text_chunk")
      .select("doc_id", "chunk_idx", "start_tok", "n_tok").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (doc, g) =>
      val chunks = g.sortBy(_.getInt(1))
      // the document's token count is recoverable from the last window
      val n = chunks.last.getInt(2) + chunks.last.getInt(3)
      chunks.zipWithIndex.foreach { case (c, i) =>
        // indices dense from 0, starts on the stride grid, every window
        // as wide as the document allows (cap 32 = ChunkW)
        assert(c.getInt(1) == i && c.getInt(2) == i * 24, s"doc $doc chunk $i grid")
        assert(c.getInt(3) == math.min(32, n - c.getInt(2)), s"doc $doc chunk $i width")
      }
      // tiling is complete: one more stride step would start past the end
      assert(chunks.last.getInt(2) + 24 >= n, s"doc $doc dropped a tail window")
    }
  }

  test("text_lm_score: counters nested, ratios consistent, bench excluded") {
    val df = run("text_lm_score")
    assert(df.count() > 0)
    // hits are a subset of known-context positions, which are a subset of
    // all positions; a hit implies its bigram count contributes >= 1
    val bad = df.filter(col("doc_id") % 50 === 0 ||
      col("n_hit") > col("n_known") || col("n_known") > col("n_pos") ||
      col("sum_c12") < col("n_hit") ||
      col("hit_rate") < 0 || col("hit_rate") > 1)
    assert(bad.count() === 0)
    // the reference slice exists, so some training doc shares a bigram
    assert(df.filter(col("n_hit") > 0).count() > 0, "LM never hit — bigram key broken")
  }

  test("train_shard_shuffle: positions dense per shard, epochs re-deal") {
    val rows = run("train_shard_shuffle")
      .select("epoch", "doc_id", "shard", "pos").collect()
    val nDocs = rows.length / 2
    rows.groupBy(r => (r.getInt(0), r.getInt(2))).foreach { case ((e, sh), g) =>
      val ps = g.map(_.getInt(3)).sorted
      assert(ps.toSeq === (1 to ps.length), s"epoch $e shard $sh positions not dense")
    }
    // epoch 1 must re-deal: most docs land in a different shard (7/8 expected)
    val byDoc = rows.groupBy(_.getLong(1))
    val moved = byDoc.count { case (_, g) =>
      g.map(r => (r.getInt(0), r.getInt(2))).toMap.values.toSet.size == 2
    }
    assert(moved > nDocs / 2, s"only $moved/$nDocs docs changed shard across epochs")
    // deterministic: a second run is identical
    val again = run("train_shard_shuffle").select("epoch", "doc_id", "shard", "pos").collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("sample_dsir: raw docs only, verdict consistent with the rational rule") {
    val rows = run("sample_dsir").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 50 != 0), "target-slice doc leaked into output")
    // internal consistency: every doc has features and bounded sums
    assert(rows.forall(r => r.getLong(1) > 0 && r.getLong(2) >= 0 && r.getLong(3) >= r.getLong(1)),
      "sum_raw must count each of the doc's own features at least once")
    // the rule discriminates at sf0.001 (not all-keep / all-drop)
    val kept = rows.count(_.getBoolean(4))
    assert(kept > 0 && kept < rows.length,
      s"keep verdict degenerate: $kept of ${rows.length}")
    // deterministic under re-run
    val again = run("sample_dsir").collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("text_bpe_merges: dense ranks, non-increasing counts, 2-char pairs") {
    val rows = run("text_bpe_merges")
      .select("rank", "pair", "pair_count", "n_words").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_.getInt(0)).toSeq === (1 to rows.length))
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(r => r.getString(1).length == 2))
    assert(rows.forall(r => r.getLong(2) >= r.getLong(3)),
      "weighted pair count cannot be below the distinct-word count")
  }

  test("text_bpe_train: 8 merge rounds, units strictly shrink, merges compose") {
    val rows = run("text_bpe_train")
      .select("round", "pair", "pair_count", "n_units_after").collect()
    assert(rows.length == 8, s"expected 8 merge rounds, got ${rows.length}")
    assert(rows.map(_.getInt(0)).toSeq === (0 until 8))
    // every winner was a real pair, and each merge strictly reduces the
    // corpus unit total (at least one occurrence merges per round)
    assert(rows.forall(_.getLong(2) > 0), "a round won with zero count")
    val units = rows.map(_.getLong(3))
    assert(units.zip(units.tail).forall { case (a, b) => b < a },
      s"unit totals must strictly decrease across rounds: ${units.toSeq}")
    // round 0's winner is over raw characters (single-char units); later
    // winners may compose earlier merges — every unit in a winning pair
    // must be either a char or the concatenation of a previous winner
    val r0 = rows.head.getString(1)
    assert(r0.length == 3 && r0(1) == '|', s"round-0 pair not char|char: $r0")
    val merged = collection.mutable.Set[String]()
    rows.foreach { r =>
      val Array(l, rt) = r.getString(1).split("\\|", 2)
      for (u <- Seq(l, rt))
        assert(u.length == 1 || merged.contains(u),
          s"round ${r.getInt(0)} uses unit '$u' that no earlier merge built")
      merged += (l + rt)
    }
    // first-round winner agrees with the standalone scorer's rank 1
    val top = run("text_bpe_merges").filter(col("rank") === 1)
      .head().getString(1)
    assert(rows.head.getString(1).replace("|", "") == top,
      "round-0 winner diverged from text_bpe_merges rank 1")
  }

  test("text_bpe_segment: segmentation round-trips and sums to the trainer's total") {
    val segs = run("text_bpe_segment")
      .select("word", "wc", "seg", "n_units").collect()
    assert(segs.nonEmpty)
    segs.foreach { r =>
      val (word, seg, n) = (r.getString(0), r.getString(2), r.getInt(3))
      // removing delimiters recovers the word exactly — merges never
      // lose or reorder characters
      assert(seg.replace("|", "") == word, s"seg '$seg' does not spell '$word'")
      assert(seg.startsWith("|") && seg.endsWith("|"))
      assert(n == seg.count(_ == '|') - 1 && n >= 1)
    }
    // the segmenter IS the trainer's final state: Σ wc·n_units must equal
    // round 7's n_units_after from text_bpe_train
    val total = segs.map(r => r.getLong(1) * r.getInt(3)).sum
    val trained = run("text_bpe_train").orderBy(col("round").desc)
      .head().getLong(3)
    assert(total == trained,
      s"segment total $total != trainer's final n_units_after $trained")
  }
}
