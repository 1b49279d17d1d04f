package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Tables, Tmp}

/** Training-data curation batch: the corpus-hygiene operators an LLM data
  * pipeline runs between raw ingestion and tokenization — benchmark
  * decontamination, repetition scoring (Gopher-style), deterministic
  * domain mixing, BM25 retrieval, and semantic dedup pruning.
  *
  * Determinism conventions match [[QueriesCdc]]: integer counts (never
  * floating aggregates) wherever the oracle hashes values, doubles only
  * inside a final `round(x * 1000)` quantization, ties broken by id.
  *
  * Scale notes per operator are on each method; the common theme is that
  * every per-document signal here is computed NARROWLY from the token
  * array (no explode → groupBy(doc) round trip), so the only shuffles are
  * the genuinely cross-document ones (eval-gram join, global term stats).
  */
object QueriesTraining {

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** SIZE-AWARE pin for a vocabulary-bounded model table whose build is
    * a full corpus pass and which is consumed by 2+ downstream stages
    * (nbClassify's token-count model, heldoutLm's bigram model). The
    * trade is the r19 crossover (verdict task 3): unpinned, Catalyst
    * executes the corpus pass once per consumer — but the two passes run
    * as PARALLEL stages of one job, while a pin serializes (cache build
    * job, then consumers) and pays the round-trip. Measured at sf0.1
    * (docs parquet 0.58 MiB): pin = +0.35 s on q_nb_classify; the saved
    * pass only dominates once the corpus dwarfs the constant — the same
    * size-from-the-source decision as [[evalVerifySide]]'s
    * broadcast→shuffle switch and streamJoin's state width. Threshold
    * [[PinCorpusMinBytes]] = 2 MiB of documents parquet ≈ sf0.3; an r20
    * sf1 A/B reported the pin winning at sf1, but its numbers were never
    * committed, so the crossover is not yet measured in-tree.
    */
  private val PinCorpusMinBytes = 2L << 20

  private def pinModelIfCorpusLarge(df: DataFrame, dir: String): DataFrame = {
    if (Tables.bytesOf(df.sparkSession, s"$dir/documents.parquet") >= PinCorpusMinBytes)
      graft.core.CacheRegistry.register(
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    else df
  }

  /** Word n-grams from a token array, built narrowly (index arithmetic
    * over the array, no shuffle). Empty array below n tokens.
    *
    * `ws` MUST be a materialized attribute (a projected `col("ws")`), not
    * an inline `split(...)`: expressions inside a higher-order-function
    * lambda re-evaluate PER ELEMENT, so an inline split would re-tokenize
    * the document once per produced gram — O(tokens²) work per doc,
    * measured 7× slower at sf0.1. Catalyst's CollapseProject keeps the
    * two-step projection (it refuses to inline non-cheap multi-use
    * aliases), so materializing first is stable, not an accident.
    */
  private[graft] def wordNgrams(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Physical-plan choice for an eval-gram verify join — NEVER semantics
    * (both sides produce bit-identical output; a one-off probe proved it
    * at 258M grams, `git show
    * 9f24135:src/main/scala/graft/tools/DecontScaleProbe.scala`):
    * broadcast the eval side below the cap (default 50M grams ≈ a few GB
    * of hash relation, under Spark's 8 GB ceiling), SHUFFLE_HASH above
    * it. `estGrams` may be an exact count (bloomPrune already pays one
    * for sketch sizing) or the memoized sampled estimate from
    * [[estEvalGrams]], so callers without a count in hand pay two
    * bounded jobs ONCE per (dataset, predicate), not a gram enumeration,
    * to pick a join strategy. Overridable for scale probes via
    * -Dgraft.decontaminate.broadcastMaxGrams.
    */
  private[graft] def evalVerifySide(evalGrams: DataFrame, estGrams: Long): DataFrame = {
    val cap = sys.props.get("graft.decontaminate.broadcastMaxGrams")
      .map(_.toLong).getOrElse(50000000L)
    if (estGrams <= cap) broadcast(evalGrams) else evalGrams.hint("SHUFFLE_HASH")
  }

  /** Eval-side gram-mass estimate for [[evalVerifySide]], memoized by
    * [[graft.core.Tmp.stagedOnce]] over (predicate tag, dataset content)
    * the way [[graft.analytics.Pq.trainCached]] keys codebooks: the
    * answer is a property of the eval-set DEFINITION on a dataset, not of
    * the calling query, so a warm catalog run (Bench/Verify: one
    * long-lived session, many invocations) pays the estimation jobs once
    * per (dataset, predicate) instead of a full corpus column scan per
    * decontaminate call (r18 verdict item 4).
    *
    * Estimate = eval doc count × sampled avg tokens/doc × 1.25. Tokens/doc
    * bounds distinct n-grams/doc from above (grams = tokens−n+1), and the
    * sample replaces the former fixed 100-grams/doc constant that was
    * calibrated to THIS fixture's ~60-token docs — a longer-doc corpus
    * under that constant under-estimated the gram mass and could pick a
    * broadcast exceeding the driver heap / 8 GB relation ceiling (r18
    * ADVICE item 1). Two bounded jobs on a miss: a pushed single-column
    * doc count, and a LocalLimit-capped 2048-row token-count sample (the
    * limit stops the text scan after a few partitions — never a full-text
    * corpus read). The margin keeps the estimate deliberately HIGH: an
    * over-estimate flips to SHUFFLE_HASH early (proven bit-identical and
    * faster at 258M grams, see [[evalVerifySide]]); an under-estimate risks the
    * broadcast ceiling.
    */
  private[graft] def estEvalGrams(d: DataFrame, pred: Column,
                                  dir: String, predTag: String): Long =
    Tmp.stagedOnce(s"evalgrams_$predTag", dir) { _ =>
      val evalDocs = d.filter(pred).count()
      val avgTok = d.filter(pred)
        .select(size(split(col("text"), " ")).cast("long").as("t"))
        .limit(2048)
        .agg(avg(col("t"))).head() match {
          case r if r.isNullAt(0) => 0.0
          case r => r.getDouble(0)
        }
      math.ceil(evalDocs * avgTok * 1.25).toLong
    }

  /** Benchmark decontamination: flag training documents sharing any
    * 4-token gram with the held-out eval set (here: doc_id % 29 == 0, the
    * stand-in for a benchmark suite). Output = contaminated doc ids with
    * their distinct-overlapping-gram count.
    *
    * Scale shape: eval sets are SMALL (benchmarks are megabytes against a
    * 100 TB corpus), so the eval gram set is broadcast — the corpus side
    * streams through a broadcast-hash semi-join with no wide shuffle; the
    * only keyed shuffle is the per-doc count of the (rare) matches.
    * Per-doc grams are deduped narrowly (`array_distinct`) before the
    * explode, so duplicate grams inside one doc never inflate the join.
    * On a fixture whose eval set is corpus-proportional (ours is
    * corpus/29 by construction) the broadcast side would cross the 8 GB
    * ceiling ~sf1000 — [[evalVerifySide]] flips the verify to a
    * SHUFFLE_HASH join there, so the documented "switch one decade up"
    * is engine behavior, not a manual migration.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val grams = d
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(wordNgrams(col("ws"), 4))).as("gram"))
    val evalGrams = grams.filter(col("doc_id") % 29 === 0)
      .select(col("gram")).distinct()
    val est = estEvalGrams(d, col("doc_id") % 29 === 0, dir, "mod29")
    grams.filter(col("doc_id") % 29 =!= 0)
      .join(evalVerifySide(evalGrams, est), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  /** Gopher-style repetition signals, all exact integers, all computed
    * narrowly per row: token count, distinct-token count, top token
    * multiplicity, trigram count, distinct-trigram count, and a
    * `repetitious` flag (top token covering >20% of the doc). Zero
    * shuffles — the whole query is scan → project.
    *
    * Counters come from the native [[graft.functions.TokenStats]]
    * expression: one O(n) hash-map pass per document. The composed form
    * (kept as `repetitionComposed` for the parity spec) computed top
    * multiplicity through an interpreted O(distinct × n) HOF chain —
    * 3.8 s at sf0.1 vs ~0.3 s native, same integers out.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.TokenStats.column(col("text")).as("ts"))
      .select(col("doc_id"), col("ts.n_tok").as("n_tok"),
        col("ts.n_distinct_tok").as("n_distinct_tok"),
        col("ts.top_tok_n").as("top_tok_n"),
        col("ts.n_tri").as("n_tri"),
        col("ts.n_distinct_tri").as("n_distinct_tri"))
      .withColumn("repetitious", col("top_tok_n") * 5 > col("n_tok"))
  }

  /** The composed-builtins form of [[repetition]] — O(distinct × n)
    * interpreted HOFs; retained only as the parity reference.
    */
  private[graft] def repetitionComposed(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"), wordNgrams(col("ws"), 3).as("tri"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tok"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct_tok"),
        array_max(transform(array_distinct(col("ws")),
          t => size(filter(col("ws"), w => w === t)))).cast("long").as("top_tok_n"),
        size(col("tri")).cast("long").as("n_tri"),
        size(array_distinct(col("tri"))).cast("long").as("n_distinct_tri"))
      .withColumn("repetitious", col("top_tok_n") * 5 > col("n_tok"))
  }

  /** Deterministic domain mixing: per-source target sampling rates (in
    * sixteenths, derived here from the source id; in production a config
    * map) applied via a content-hash threshold — the same document always
    * lands on the same side of the cut, on any cluster, at any
    * parallelism. One narrow filter over the scan: no shuffle, no RNG, no
    * seed-ordering hazard. This is the "mix web:wiki:code at 4:16:8"
    * knob of corpus assembly, reproducible across reruns.
    */
  def domainMix(s: SparkSession, dir: String): DataFrame = {
    val hexVal = expr("instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1")
    val rate = (substring(col("source"), 4, 10).cast("int") % 4 + 1) * 4
    docs(s, dir)
      .filter(hexVal < rate)
      .select(col("doc_id"), col("source"))
  }

  /** BM25 (k1=1.2, b=0.75) keyword retrieval: top-15 documents for the
    * fixed query {spark, join, window}. Corpus stats (N, total tokens,
    * per-term document frequencies) come from ONE aggregate pass whose
    * single row is broadcast back — per-doc term frequencies are narrow
    * `filter(ws, _ == term)` counts, so the scoring scan never shuffles
    * document data; TakeOrdered keeps only k rows per partition. Scores
    * are quantized to milli-units for cross-engine hash stability.
    */
  def bm25(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "join", "window")
    val ws = col("ws")
    val perDoc = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(
        col("doc_id") +: size(ws).cast("long").as("dl") +:
          terms.map(t => size(filter(ws, w => w === t)).cast("long").as(s"tf_$t")): _*)
    val stats = perDoc.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_tok") +:
        terms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)
    val k1 = 1.2d
    val b = 0.75d
    val score = terms.map { t =>
      val idf = log(
        (col("n_docs") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5) + 1.0)
      val norm = lit(k1) * (lit(1.0 - b) +
        lit(b) * col("dl") * col("n_docs") / col("tot_tok"))
      idf * (col(s"tf_$t") * (k1 + 1)) / (col(s"tf_$t") + norm)
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id") +: terms.map(t => col(s"tf_$t")) :+
          round(score * 1000).cast("long").as("score_milli"): _*)
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(15)
  }

  /** Semantic dedup (SemDeDup-style prune): from each embedding near-dup
    * cluster (banded LSH candidates → exact quantized-cosine verify →
    * connected components, the [[QueriesExtra.embedClusters]] machinery)
    * keep only the cluster root; vectors in no cluster pass through. The
    * output is the pruned corpus — what actually feeds tokenization.
    *
    * Scale shape: the heavy stages are the already-capped LSH pipeline;
    * the prune itself is one anti-join keyed on vec_id against the (small)
    * non-representative set — members of near-dup clusters, a fraction of
    * the corpus by construction.
    */
  def semdedupPrune(s: SparkSession, dir: String): DataFrame = {
    val pairs = QueriesExtra.embedNeardup(s, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val dropIds = graft.analytics.Dedup.connectedComponents(pairs)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("vec_id"))
    emb(s, dir).join(dropIds, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** Paragraph-level boilerplate removal (RefinedWeb/CCNet-style line
    * dedup, over 8-token chunks since the fixture corpus has no
    * newlines): chunks whose exact text recurs in >= 5 distinct documents
    * are boilerplate (headers, footers, nav) and are struck from every
    * document; survivors are reassembled in order. Output is the cleaned
    * corpus with kept/dropped counts.
    *
    * Scale shape: the only wide op is the chunk-frequency count keyed by
    * chunk TEXT — bounded by corpus vocabulary, heavily map-side
    * combined. Reassembly groups by doc_id. Chunking itself is narrow
    * array arithmetic; document text crosses the wire once, cut into
    * chunks (same bytes, no amplification).
    */
  def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    val chunked = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        transform(sequence(lit(0), ((size(ws) - 1) / 8).cast("int")),
          i => struct(i.as("idx"),
            concat_ws(" ", slice(ws, i * 8 + 1, lit(8))).as("chunk"))).as("chunks"))
    // MATERIALIZED once (r19): `exploded` feeds the boilerplate count,
    // the survivor reassembly AND (via `chunked`) the per-doc chunk
    // count — unpinned, the docs scan + chunking transform executed 3x
    // (plan audit: 6 parquet scans before). One DISK_ONLY pin (chunk
    // bytes = text bytes, corpus-proportional → executor disk, the
    // dsirSelect discipline); n_chunks comes off the same pinned rows
    // (count per doc ≡ size(chunks): every chunk is exploded, every doc
    // has ≥ 1 chunk — value and the right-join row set are unchanged).
    val exploded = graft.core.CacheRegistry.register(
      chunked.select(col("doc_id"), explode(col("chunks")).as("c"))
        .select(col("doc_id"), col("c.idx").as("idx"), col("c.chunk").as("chunk"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val boiler = exploded.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 5)
      .select(col("chunk"))
    exploded.join(broadcast(boiler), Seq("chunk"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
          x => x.getField("chunk")), " ").as("clean_text"))
      .join(exploded.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks")),
        Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Gopher-style quality rules, all exact integers/booleans computed
    * narrowly per document (zero shuffles): token count bounds, mean word
    * length bounds (as cross-multiplied integer comparisons — no
    * division), non-alphabetic token ratio, and stop-word presence. The
    * `pass` column is the conjunction — the corpus gate a Gopher-like
    * curation pipeline applies before tokenization.
    */
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRulesOn(docs(s, dir))

  private[graft] def gopherRulesOn(d: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "that")
    d.select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tok"),
        aggregate(transform(col("ws"), w => length(w).cast("long")),
          lit(0L), (acc, x) => acc + x).as("sum_word_len"),
        size(filter(col("ws"), w => w.rlike("^[a-z]+$") === false))
          .cast("long").as("n_nonalpha"),
        size(filter(col("ws"), w => array_contains(
          array(stop.map(lit): _*), w))).cast("long").as("n_stop"))
      .withColumn("ok_len", col("n_tok") >= 10 && col("n_tok") <= 100000L)
      .withColumn("ok_word_len", // 2 <= mean <= 12, cross-multiplied
        col("sum_word_len") >= col("n_tok") * 2 &&
          col("sum_word_len") <= col("n_tok") * 12)
      .withColumn("ok_alpha", col("n_nonalpha") * 5 <= col("n_tok"))
      .withColumn("ok_stop", col("n_stop") >= 2)
      .withColumn("pass",
        col("ok_len") && col("ok_word_len") && col("ok_alpha") && col("ok_stop"))
  }

  /** Word-bigram language-model scoring: train bigram + unigram-prefix
    * counts on the corpus, score each document by average conditional
    * surprisal -ln P(w2|w1) with P = c(w1 w2) / c(w1 ·) (milli-quantized
    * like BM25), alongside exact-integer signals (bigram total, rarest
    * bigram's corpus frequency, singleton-bigram count). The perplexity
    * bucket a CCNet-style pipeline uses to rank corpus quality.
    *
    * Scale shape: the model is the aggregated bigram table keyed by gram
    * text (vocabulary-bounded, map-side combined — the classic
    * distributed n-gram count); scoring joins each doc's distinct grams
    * against it with multiplicity carried as an integer, so document text
    * is never shuffled, only (gram, count) pairs.
    */
  def ngramLm(s: SparkSession, dir: String): DataFrame = {
    val grams = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(wordNgrams(col("ws"), 2)).as("gram"))
    val counted = grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("n")) // per-doc multiplicity, carried as int
    // The model counts ATTACH by window sums over the per-doc counts
    // (c2 = corpus count of the gram, c1 = corpus count of its prefix)
    // instead of materializing a model table and joining it back: the
    // explode runs once, nothing is broadcast (a 100 TB corpus's bigram
    // model is itself huge — collecting it to the driver is the
    // anti-pattern), and every stage is a keyed shuffle of the
    // already-reduced (doc, gram, n) triples.
    val wGram = Window.partitionBy(col("gram"))
    val wPrefix = Window.partitionBy(substring_index(col("gram"), " ", 1))
    counted
      .withColumn("c2", sum(col("n")).over(wGram))
      .withColumn("c1", sum(col("n")).over(wPrefix))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_bigrams"),
        min(col("c2")).cast("long").as("rarest_freq"),
        sum(when(col("c2") === 1, 1L).otherwise(0L)).cast("long").as("n_singletons"),
        round(sum(-log(col("c2").cast("double") / col("c1").cast("double")) * col("n"))
          / sum(col("n")) * 1000).cast("long").as("surprisal_milli"))
  }

  /** Exact repeated-substring dedup (the window-granular operator of Lee
    * et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): every `w`-token window whose exact text recurs in >= 2
    * distinct documents is a duplicated span. Per document: total
    * windows, duplicated windows, and the number of TOKENS covered by
    * the UNION of duplicated windows (overlapping spans counted once) —
    * the signal a curation pipeline thresholds to drop or trim documents
    * that are mostly boilerplate copied from elsewhere in the corpus.
    *
    * Scale shape: windows shuffle as (md5, doc_id, pos) — a fixed 32-char
    * key, never the w-token text — keyed by the hash, over which the
    * duplicate mark is computed IN PLACE by min/max window functions
    * (r19: the former agg-then-join form executed the window-hash pass
    * twice, since its two h-keyed exchanges differ below the boundary
    * and exchange reuse never fired; the window form is one pass, one
    * exchange, no join). The interval-union coverage is a NARROW sorted fold
    * (`aggregate` over the per-doc position list): positions are bounded
    * by document length, so no explode-by-w amplification and no second
    * wide op. md5 (not a 64-bit hash) keys the shuffle so the oracle can
    * recompute the exact same grouping; at 128 bits collisions are not a
    * correctness consideration.
    *
    * Window construction is the native [[graft.functions.TokenWindowHashes]]
    * expression — one evaluation per document, tokens UTF-8-encoded once,
    * windows streamed through a reused digest. The first cut built windows
    * in a `transform` lambda; higher-order functions are interpreted
    * (CodegenFallback), so every window re-walked a w-element_at
    * expression tree — 46 s at sf0.1 vs ~3 s native, same bytes out.
    */
  private[graft] def substringDedupOn(d: DataFrame, w: Int): DataFrame = {
    val base = d.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val windows = d.select(col("doc_id"),
        explode(graft.functions.TokenWindowHashes.column(col("text"), w)).as("wp"))
      .select(col("doc_id"), col("wp.pos").as("pos"), col("wp.h").as("h"))
    // "appears in >= 2 distinct documents" needs only min != max over
    // doc_id per hash. r19 RESHAPE (same hit rows, oracle-proven): the
    // former agg-then-join form referenced `windows` twice, and the two
    // h-keyed exchanges differ below the boundary (partial min/max vs
    // plain rows), so exchange reuse never fired — the TokenWindowHashes
    // pass ran twice per invocation. min/max as WINDOW functions over
    // the same h partition mark each window row in place: ONE window
    // pass, ONE h-keyed exchange, no join, no cache.
    // SKEW NOTE (r20 hot-key probe, plans/r20/skew_probe.txt): a
    // boilerplate SEGMENT spreads over w distinct window hashes (each
    // position shifts the content), so the single-key funnel needs many
    // docs sharing an IDENTICAL aligned w-token window. Probed at one
    // hash = 200k rows (50% of a 400k-doc corpus): the window form ties
    // the salted two-phase + skew-splittable-join alternative (4.41 vs
    // 4.46 s) and beats it at moderate skew (3.51 vs 5.01 s at 10%
    // boilerplate), because AQE cannot split window partitions but the
    // hot group sort is O(n log n) in one task only past ~10M identical
    // windows. If a target corpus carries a single w-token window at
    // that multiplicity, switch to the probe's salted form (partial
    // min/max per (h, salt), combine per h, join back onto pinned
    // windows — proven row-identical on the probe corpus).
    val wH = Window.partitionBy(col("h"))
    val hits = windows
      .withColumn("_d0", min(col("doc_id")).over(wH))
      .withColumn("_d1", max(col("doc_id")).over(wH))
      .filter(col("_d0") =!= col("_d1"))
      .select(col("doc_id"), col("pos"), col("h"))
    // interval-union coverage: sorted positions folded left to right;
    // each window [p, p+w-1] contributes only tokens past the furthest
    // end seen so far, so overlaps never double-count
    val perDoc = hits.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"),
        array_sort(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), col("n_dup_windows"),
        aggregate(col("ps"),
          struct(lit(0L).as("covered"), lit(0L).as("last_end")),
          (acc, p) => {
            val start = greatest(p, acc.getField("last_end") + 1)
            val end = p + lit((w - 1).toLong)
            struct(
              (acc.getField("covered") + greatest(end - start + 1, lit(0L)))
                .as("covered"),
              greatest(acc.getField("last_end"), end).as("last_end"))
          },
          acc => acc.getField("covered")).as("n_covered_tokens"))
    base.withColumn("n_windows", greatest(col("n_tok") - (w - 1), lit(0L)))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_covered_tokens"), lit(0L)).as("n_covered_tokens"))
  }

  def substringDedup(s: SparkSession, dir: String): DataFrame =
    substringDedupOn(docs(s, dir), w = 12)

  /** Token-budget corpus assembly: fill each source's token budget with
    * its best documents — rank within source by quality (longest first
    * via `n_chars`, ties to the lowest id), cumulative token count, keep
    * while the running total fits. The "assemble a 30 B-token corpus at
    * web:wiki:code = x:y:z" knob, made deterministic: same docs in, same
    * corpus out, on any cluster.
    *
    * Scale shape: one keyed shuffle (window by source). The running sum
    * orders ~docs-per-source rows per partition; a source so large its
    * partition skews is exactly the source whose budget cut happens
    * earliest, and the window needs only rows until the budget trips —
    * at production scale the same cut runs as a per-source TakeOrdered
    * of budget/avg_doc_tokens docs before the exact windowed pass.
    */
  /** Data-MIXTURE weighting — the step between corpus stats and the
    * sampler in every large-scale LM data pipeline (temperature-scaled
    * source weights, the multilingual-training standard; τ = 2 here, so
    * weight ∝ √tokens): per source, the sampling weight, its share of
    * the mix in parts-per-million, the expected token draw against a
    * fixed total budget, and the per-source sampling RATE (expected /
    * available, capped at 1.0) a downstream reservoir applies. The
    * DERIVE half of the mixing knob: [[domainMix]] is the APPLY half
    * (deterministic content-hash cut at a given rate) — production
    * chains this op's sample_rate_ppm into that filter.
    *
    * All integer math so the oracle replays it bit-exactly: the isqrt
    * is floor(sqrt) computed in doubles then CORRECTED by one
    * conditional step in each direction (a double sqrt near a perfect
    * square can land on either side; ±1 adjustment makes it exact for
    * any count below 2^52), shares are integer ppm via `div`, and the
    * rate caps with least(). Scale shape: one map-side-combined
    * aggregate to per-source totals (rows = |sources|, constant), then
    * scalar arithmetic — nothing about this step grows with the corpus.
    */
  def mixWeights(s: SparkSession, dir: String): DataFrame = {
    val budgetTokens = 20000L
    val perSource = docs(s, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
    // exact integer sqrt: float floor, then ±1 correction
    val s0 = floor(sqrt(col("tokens").cast("double"))).cast("long")
    val isqrt = (s0
      + when((s0 + 1) * (s0 + 1) <= col("tokens"), 1L).otherwise(0L)
      - when(s0 * s0 > col("tokens"), 1L).otherwise(0L)).as("weight")
    val weighted = perSource.select(col("source"), col("n_docs"), col("tokens"), isqrt)
    val total = weighted.agg(sum(col("weight")).as("wsum"))
    weighted.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("tokens"), col("weight"),
        expr("(weight * 1000000) div wsum").as("mix_ppm"))
      .withColumn("expected_tokens",
        expr(s"($budgetTokens * mix_ppm) div 1000000"))
      .withColumn("sample_rate_ppm",
        least(lit(1000000L), expr("(expected_tokens * 1000000) div tokens")))
  }

  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val budget = 800L // tokens per source
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    docs(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= budget)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))
  }

  /** The FULL curation pipeline composed end to end in ONE plan — what a
    * real corpus build runs, stage order included: Gopher quality gate →
    * exact dedup (keep-first per content hash) → benchmark
    * decontamination (drop eval docs and anything sharing a 4-gram with
    * them) → per-source token-budget cut. Output: the assembled corpus
    * with per-doc token counts and running totals.
    *
    * Composition is the point: every stage is the already-oracle-gated
    * operator, chained through semi/anti joins on doc_id. The one
    * materialization (r19) is deliberate: the deduped corpus is consumed
    * by BOTH the gram explosion and the final anti-join, and pinning it
    * runs the Gopher gate + dedup exactly once instead of once per
    * consumer (Catalyst replays unpinned shared subtrees — guide §7.2).
    * Stage ORDER is the scale lesson: the narrow gate runs first (cheap,
    * biggest volume cut), content-hash dedup before gram explosion
    * (fewer docs pay the 4-gram cost), the budget window last (smallest
    * input).
    */
  def curationE2e(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // 1. Gopher gate (narrow, first)
    val gated = d.join(
      gopherRulesOn(d).filter(col("pass")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    // 2. exact dedup: keep the lowest id per content hash. r19 RESHAPE
    // (same kept rows, proven by the unchanged oracle): the former
    // agg+semi-join form referenced `gated` twice — and with `deduped`
    // itself consumed twice below (decontamination grams + the clean
    // anti-join), Catalyst executed the Gopher-gate HOF pipeline 4x per
    // invocation (plan audit: 18 parquet scans before). Keep-first is
    // now a row_number window over the content hash — single reference,
    // one exchange carrying the text instead of two, and it plans as
    // WindowGroupLimit (map-side partial top-1 per hash group) — and the
    // deduped corpus is pinned DISK_ONLY for its two consumers.
    val keepW = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val deduped = graft.core.CacheRegistry.register(
      gated.withColumn("_rn", row_number().over(keepW))
        .filter(col("_rn") === 1).drop("_rn")
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    // 3. decontamination: eval set = doc_id % 29 == 0 over the FULL
    // corpus (the benchmark exists independently of what the gate kept);
    // eval docs leave the corpus, contaminated docs are dropped
    def grams(df: DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(wordNgrams(col("ws"), 4))).as("gram"))
    val evalGrams = grams(d.filter(col("doc_id") % 29 === 0))
      .select(col("gram")).distinct()
    // same broadcast→shuffle plan switch as decontaminate (never
    // semantics); the memoized estimate shares decontaminate's cache key,
    // so a catalog run pays the estimation jobs once for both queries
    val est = estEvalGrams(d, col("doc_id") % 29 === 0, dir, "mod29")
    val contaminated = grams(deduped.filter(col("doc_id") % 29 =!= 0))
      .join(evalVerifySide(evalGrams, est), "gram")
      .select(col("doc_id")).distinct()
    val clean = deduped.filter(col("doc_id") % 29 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // 4. token budget per source (smallest input last)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    clean
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= 800)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))
  }

  /** Segmented inverted-index build — the index-side complement of the
    * BM25 query path: per (term, shard) postings segment, emit the
    * digest a real index writer persists (document frequency, collection
    * frequency, doc-id range, max delta-gap — the quantity that sizes
    * delta-varint compression — and the top-impact document for
    * impact-ordered early termination).
    *
    * Scale shape: two keyed shuffles of already-reduced rows — the
    * (term, doc) wordcount, then the (term, shard) segment fold. Sharding
    * by doc id bounds every collected posting list to one segment (real
    * indexes are built per-segment and merged, never as one global list);
    * the gap fold is arithmetic-only over the bounded segment array.
    */
  def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    val postings = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("shard", (col("doc_id") % 16).cast("long"))
    postings.groupBy(col("term"), col("shard"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        max(struct(col("tf").as("tf"), (-col("doc_id")).as("negd"))).as("_top"),
        array_sort(collect_list(col("doc_id"))).as("_ps"))
      .select(col("term"), col("shard"), col("df"), col("cf"),
        col("first_doc"), col("last_doc"),
        aggregate(col("_ps"), struct(lit(-1L).as("prev"), lit(0L).as("mg")),
          (acc, p) => struct(p.as("prev"),
            when(acc.getField("prev") < 0, acc.getField("mg"))
              .otherwise(greatest(acc.getField("mg"), p - acc.getField("prev")))
              .as("mg")),
          acc => acc.getField("mg")).as("max_gap"),
        (-col("_top.negd")).as("top_doc"))
  }

  /** Skip-gram training-pair generation (word2vec-style, window 2): for
    * every token, its next-1 and next-2 neighbors become (center,
    * context) pairs, counted corpus-wide — the sample table an embedding
    * trainer consumes.
    *
    * Scale shape: pair construction is NARROW array arithmetic over each
    * document's token array (no self-join on position — the join form
    * shuffles the token table twice and is quadratic-prone under skew);
    * the only shuffle is the final vocabulary-bounded pair count,
    * map-side combined like any wordcount.
    */
  def skipgramPairs(s: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    def pairsAt(d: Int) = when(size(ws) > d,
      transform(sequence(lit(1), size(ws) - d),
        i => struct(element_at(ws, i).as("center"),
          element_at(ws, i + d).as("context"))))
      .otherwise(array().cast("array<struct<center:string,context:string>>"))
    docs(s, dir)
      .select(split(col("text"), " ").as("ws"))
      .select(explode(concat(pairsAt(1), pairsAt(2))).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** Overlapping token-window chunking — the RAG / context-window
    * preprocessing step: every document becomes ceil((len-W)/S)+1 chunks
    * of W tokens at stride S (one chunk when len <= W), each identified
    * by (doc_id, chunk_idx) with its token count and an md5 fingerprint
    * of the chunk text.
    *
    * Scale shape: chunk GENERATION is narrow — `transform` over an index
    * `sequence` slices the already-split token array per row, entirely
    * inside whole-stage codegen; the explode multiplies rows only by the
    * per-doc chunk count (bounded by len/S), and nothing shuffles at all
    * (PlanShapeSpec pins zero exchanges). Downstream dedup/embedding
    * stages then key by the fingerprint.
    */
  def chunkWindows(s: SparkSession, dir: String): DataFrame = {
    val W = 64
    val S = 48
    val base = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("len", size(col("ws")))
      .withColumn("n_chunks",
        when(col("len") <= W, lit(1L))
          .otherwise(floor((col("len") - W + (S - 1)) / S) + 1L))
    base
      .select(col("doc_id"),
        explode(expr(
          s"""transform(sequence(0, n_chunks - 1), i -> struct(
             |  CAST(i AS BIGINT) AS chunk_idx,
             |  CAST(least($W, len - i * $S) AS BIGINT) AS chunk_tokens,
             |  md5(array_join(slice(ws, i * $S + 1, $W), ' ')) AS chunk_md5))""".stripMargin))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk_tokens"), col("c.chunk_md5"))
  }

  /** Contrastive pair mining for embedding-model training: every 50th
    * vector becomes an anchor, paired with its hardest POSITIVE (the
    * corpus argmax by exact quantized dot, self excluded — integer math,
    * deterministic tie on id) and a deterministic hash-drawn NEGATIVE
    * (min md5-derived 60-bit draw over candidates — a uniform pick both
    * engines replay bit-exactly, no RNG state).
    *
    * Scale shape: the anchor set is the small side and broadcasts; each
    * corpus partition scores its vectors against all anchors in one
    * BroadcastNestedLoop pass with the native [[graft.functions.QDot]]
    * loop, and both argmins map-side-combine (min-of-struct partial
    * aggregation) before one anchor-keyed shuffle. At 100 TB the
    * candidate set swaps to an IVF probe list ([[graft.analytics.Ivf]])
    * without changing the pair contract; the brute pass here doubles as
    * the recall baseline, mirroring q_ann_recall's ladder.
    */
  def contrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"),
      graft.analytics.Similarity.quantize(col("embedding")).as("q"))
    val anchors = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("anchor_id"), col("q").as("qa"))
    val scored = e.select(col("vec_id").as("cand_id"), col("q").as("qc"))
      .join(broadcast(anchors), col("anchor_id") =!= col("cand_id"))
      .select(col("anchor_id"), col("cand_id"),
        graft.analytics.Similarity.dotQ(col("qa"), col("qc")).as("dot"),
        conv(substring(md5(concat_ws(":", col("anchor_id"), col("cand_id"))), 1, 15), 16, 10)
          .cast("long").as("h"))
    scored.groupBy(col("anchor_id"))
      .agg(
        min(struct((-col("dot")).as("ndot"), col("cand_id").as("cand_id"))).as("pos"),
        min(struct(col("h").as("h"), col("cand_id").as("cand_id"),
          col("dot").as("dot"))).as("neg"))
      .select(col("anchor_id"),
        col("pos.cand_id").as("pos_id"), (-col("pos.ndot")).as("pos_dot"),
        col("neg.cand_id").as("neg_id"), col("neg.dot").as("neg_dot"))
  }

  /** The scale path [[contrastivePairs]]' scaladoc promises, made real
    * and recall-gated: the candidate set per anchor is the IVF PROBE
    * LIST (the anchor's `nprobe` nearest coarse cells) instead of the
    * whole corpus, so the per-anchor work at 100 TB is corpus/cells ×
    * nprobe instead of corpus. The pair CONTRACT is unchanged — hardest
    * positive by exact integer dot, md5-drawn negative — and the brute
    * pass doubles as the ground truth: `hit` marks anchors whose IVF
    * positive ties the brute positive's dot, `floor_ok` gates mean
    * recall (mills) against [[ContrastiveIvfOracle.FloorMills]], the
    * q_ann_recall pattern.
    *
    * Determinism: coarse centroids train on the driver (deterministic,
    * corpus-size-independent sample) and are baked into BOTH engines as
    * milli-quantized literals; cell assignment and probe ranking use
    * INTEGER L2 over those literals (ties to the lower cell id), so
    * DuckDB replays the whole derivation bit-exactly — no float
    * summation-order hazards.
    */
  def contrastiveIvf(s: SparkSession, dir: String): DataFrame = {
    val eRaw = emb(s, dir)
    val ivf = graft.analytics.Ivf.train(eRaw, "vec_id", "embedding", k = 8, iters = 5)
    val qcents: IndexedSeq[IndexedSeq[Long]] = ivf.centroids.toIndexedSeq
      .map(_.toIndexedSeq.map(x => math.round(x * 1000)))
    ContrastiveIvfOracle.stash.put(dir, qcents)
    val centsLit = typedLit(qcents.zipWithIndex.map { case (c, i) => (i.toLong, c) })
    def d2(qCol: Column, cent: Column): Column =
      aggregate(zip_with(qCol, cent, (a, b) => (a - b) * (a - b)), lit(0L), _ + _)
    def rankedCells(qCol: Column): Column =
      array_sort(transform(centsLit, c =>
        struct(d2(qCol, c.getField("_2")).as("d2"), c.getField("_1").as("cid"))))
    val e = eRaw.select(col("vec_id"),
      graft.analytics.Similarity.quantize(col("embedding")).as("q"))
    // pinned (r19): `assigned` feeds both the anchor side and the
    // candidate side — unpinned, the quantize + centroid-ranking
    // transform ran over the corpus twice. Quantized vectors are
    // corpus-proportional → executor disk (dsirSelect discipline).
    val assigned = graft.core.CacheRegistry.register(
      e.withColumn("cell",
        element_at(rankedCells(col("q")), 1).getField("cid"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val anchors = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("anchor_id"), col("q").as("qa"),
        slice(transform(rankedCells(col("q")), x => x.getField("cid")), 1, 4)
          .as("probes"))
    // candidates: only vectors in the anchor's 3 probed cells — at scale
    // this is a cell-partitioned index join (Ivf.materialize), here the
    // anchors broadcast and each corpus partition filters locally
    val scored = assigned.select(col("vec_id").as("cand_id"),
        col("q").as("qc"), col("cell"))
      .join(broadcast(anchors),
        array_contains(col("probes"), col("cell")) &&
          col("anchor_id") =!= col("cand_id"))
      .select(col("anchor_id"), col("cand_id"),
        graft.analytics.Similarity.dotQ(col("qa"), col("qc")).as("dot"),
        conv(substring(md5(concat_ws(":", col("anchor_id"), col("cand_id"))), 1, 15), 16, 10)
          .cast("long").as("h"))
    val pairs = scored.groupBy(col("anchor_id"))
      .agg(
        min(struct((-col("dot")).as("ndot"), col("cand_id").as("cand_id"))).as("pos"),
        min(struct(col("h").as("h"), col("cand_id").as("cand_id"),
          col("dot").as("dot"))).as("neg"))
      .select(col("anchor_id"),
        col("pos.cand_id").as("pos_id"), (-col("pos.ndot")).as("pos_dot"),
        col("neg.cand_id").as("neg_id"), col("neg.dot").as("neg_dot"))
    val brute = contrastivePairs(s, dir)
      .select(col("anchor_id"), col("pos_dot").as("brute_dot"))
    // pinned (r19): `hits` is consumed by the recall aggregate AND the
    // final report join — unpinned, the entire upstream (brute
    // contrastive scan + IVF-probed scan + both argmin aggregates)
    // executed twice (plan audit: 16 parquet scans before). Anchor-
    // bounded rows, so heap-first storage is safe at any SF.
    val hits = graft.core.CacheRegistry.register(
      pairs.join(brute, "anchor_id")
        .select(col("anchor_id"), col("pos_id"), col("pos_dot"),
          col("neg_id"), col("neg_dot"), col("brute_dot"),
          when(col("pos_dot") === col("brute_dot"), 1L).otherwise(0L).as("hit"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val stats = hits.groupBy()
      .agg(expr("(sum(hit) * 1000) div count(1)").as("mean_mills"))
    hits.crossJoin(broadcast(stats))
      .select(col("anchor_id"), col("pos_id"), col("pos_dot"),
        col("neg_id"), col("neg_dot"), col("brute_dot"), col("hit"),
        col("mean_mills"), lit(ContrastiveIvfOracle.FloorMills).as("floor_mills"),
        (col("mean_mills") >= ContrastiveIvfOracle.FloorMills).as("floor_ok"))
  }

  /** Deterministic epoch shuffle + sharding — the step that turns a
    * curated corpus into training shards: every document gets a shard
    * (seeded md5 bucket), an interleave position within its shard
    * (seeded md5 order), and the cumulative token offset where it will
    * land in the shard's token stream. Reproducible end-to-end from the
    * seed string alone — re-running the job (or a different engine)
    * yields byte-identical shard layouts, which is what makes training
    * runs resumable and ablations comparable.
    *
    * Scale shape: NO global ordering anywhere — the only wide ops are
    * one hash partition by shard and the per-shard window (position +
    * running token sum in the same window spec, so Spark plans ONE sort,
    * not two). Shard count is a knob: at 100 TB you run thousands of
    * shards, so each window partition stays executor-sized, and the
    * window is embarrassingly parallel across shards. The global
    * row_number alternative (one task sorts the corpus) is the
    * anti-pattern this operator exists to avoid.
    */
  def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    val nShards = 8
    val d = docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("shard",
        (expr("instr('0123456789abcdef', substring(md5(concat('epoch7:', cast(doc_id as string))), 1, 1)) - 1") % nShards)
          .cast("int"))
      .withColumn("ord", md5(concat(lit("epoch7:ord:"), col("doc_id").cast("string"))))
    val w = Window.partitionBy(col("shard")).orderBy(col("ord"), col("doc_id"))
    d.withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("tok_offset",
        (sum(col("n_tok")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          - col("n_tok")).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tok"), col("tok_offset"))
  }

  /** Incremental shard APPEND — [[epochShuffle]]'s production sibling:
    * when a new crawl lands, its documents are appended to the EXISTING
    * shard layout (same seeded shard function) without touching any
    * already-written position — v1 rows keep their exact (pos,
    * tok_offset) by construction, because the append stage only ever
    * adds after each shard's tail. That stability is what lets training
    * jobs resume mid-epoch and shard files stay immutable on object
    * storage. The oracle recomputes both stages independently, so the
    * hash PROVES the v1 layout is byte-stable under the append.
    *
    * Scale shape: two per-shard window passes (v1, then arrivals) plus
    * one tiny per-shard tail aggregate joined back — shard-partitioned
    * like epochShuffle, no global order anywhere; the arrivals pass
    * touches only the delta.
    */
  def shardAppend(s: SparkSession, dir: String): DataFrame = {
    val nShards = 8
    val base = docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("shard",
        (expr("instr('0123456789abcdef', substring(md5(concat('epoch7:', cast(doc_id as string))), 1, 1)) - 1") % nShards)
          .cast("int"))
      .withColumn("ord", md5(concat(lit("epoch7:ord:"), col("doc_id").cast("string"))))
      .withColumn("is_old",
        (expr("instr('0123456789abcdef', substring(md5(concat('crawl:', cast(doc_id as string))), 1, 1)) - 1") % 2) === 0)
    val w = Window.partitionBy(col("shard")).orderBy(col("ord"), col("doc_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val v1 = base.filter(col("is_old"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("tok_offset",
        (sum(col("n_tok")).over(run) - col("n_tok")).cast("long"))
    val tails = v1.groupBy(col("shard"))
      .agg(max(col("pos")).as("base_pos"), sum(col("n_tok")).as("base_tok"))
    val v2 = base.filter(!col("is_old"))
      .withColumn("p", row_number().over(w).cast("long"))
      .withColumn("t", (sum(col("n_tok")).over(run) - col("n_tok")).cast("long"))
      .join(broadcast(tails), Seq("shard"), "left")
      .select(col("doc_id"), col("shard"), col("n_tok"),
        (col("p") + coalesce(col("base_pos"), lit(0L))).as("pos"),
        (col("t") + coalesce(col("base_tok"), lit(0L))).as("tok_offset"),
        lit("v2").as("origin"))
    v1.select(col("doc_id"), col("shard"), col("n_tok"), col("pos"),
        col("tok_offset"), lit("v1").as("origin"))
      .unionByName(v2)
  }

  /** Held-out LM perplexity scoring (the CCNet quality-ranking shape):
    * train an add-one-smoothed word-bigram model on a designated clean
    * split (here: the even-md5 half of the English corpus — standing in
    * for "trained on Wikipedia"), then score every held-out document by
    * average conditional surprisal -ln P(w2|w1), P = (c(w1w2)+1)/(c(w1·)+V),
    * with an OOV count and the head/middle/tail bucket CCNet thresholds on.
    * Unlike [[ngramLm]] (corpus self-statistics via window sums), this is
    * the train-once-apply-elsewhere shape: the model is a MATERIALIZED
    * aggregate joined against a different corpus — what production
    * actually does when one reference LM scores every incoming crawl.
    *
    * Scale shape: the model is vocabulary-bounded (bigram + prefix count
    * tables, heavily map-side combined); scoring shuffles only reduced
    * (doc, gram, n) triples keyed by gram — document text never crosses
    * the wire. The vocab size V is a one-row broadcast. Bucket thresholds
    * are FIXED MODEL CONSTANTS (as CCNet publishes its cutoffs), not
    * corpus quantiles — a global ntile here would serialize the corpus
    * through one window partition.
    */
  def heldoutLm(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(col("lang") === "en")
      .select(col("doc_id"), split(col("text"), " ").as("ws"),
        ((expr("instr('0123456789abcdef', substring(md5(concat('lm:', cast(doc_id as string))), 1, 1)) - 1") % 2) === 0)
          .as("is_train"))
    val trainGrams = base.filter(col("is_train"))
      .select(explode(wordNgrams(col("ws"), 2)).as("gram"))
    // PINNED size-aware (r20): the bigram model is consumed twice — the
    // prefix-count derivation and the scoring join — and unpinned,
    // Catalyst plans two independent copies of the train-corpus bigram
    // explode + aggregation (guide §7.2). The pinned table is
    // vocabulary-bounded (one row per distinct bigram) so the round-trip
    // is tiny, but the build serializes the plan — see
    // [[pinModelIfCorpusLarge]] for the measured crossover. (The vocab
    // scalar below still pays its own unigram pass: a one-word train doc
    // contributes a token but no bigram, so V is NOT derivable from the
    // bigram table.)
    val model = pinModelIfCorpusLarge(
      trainGrams.groupBy(col("gram")).agg(count(lit(1)).as("c2")), dir)
    val prefix = model
      .groupBy(substring_index(col("gram"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    val vocab = base.filter(col("is_train"))
      .select(explode(col("ws")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val heldGrams = base.filter(!col("is_train"))
      .select(col("doc_id"), explode(wordNgrams(col("ws"), 2)).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("n"))
      .withColumn("w1", substring_index(col("gram"), " ", 1))
    heldGrams
      .join(model, Seq("gram"), "left")
      .join(prefix, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("n"),
        coalesce(col("c2"), lit(0L)).as("c2"),
        coalesce(col("c1"), lit(0L)).as("c1"), col("v"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_bigrams"),
        sum(when(col("c2") === 0, col("n")).otherwise(0L)).cast("long").as("n_oov"),
        round(sum(-log((col("c2") + 1).cast("double") / (col("c1") + col("v")).cast("double")) * col("n"))
          / sum(col("n")) * 1000).cast("long").as("surprisal_milli"))
      .withColumn("bucket",
        when(col("surprisal_milli") <= HeldoutLmHeadMilli, "head")
          .when(col("surprisal_milli") <= HeldoutLmMiddleMilli, "middle")
          .otherwise("tail"))
  }

  /** Fixed model constants for [[heldoutLm]]'s quality buckets (the CCNet
    * convention: thresholds ship WITH the reference model; they are not
    * per-corpus quantiles). Calibrated once against the sf0.01 and sf0.1
    * held-out surprisal terciles (3451/3490 and 3402/3419) so every
    * bucket is populated at both fixture scales, then frozen.
    */
  private[graft] val HeldoutLmHeadMilli = 3420L
  private[graft] val HeldoutLmMiddleMilli = 3500L

  /** Naive-Bayes language classifier — the fasttext-langid stand-in a
    * curation pipeline trains on labeled documents and applies to the
    * unlabeled crawl. Even-md5 half trains per-(lang, token) counts,
    * per-lang token totals, vocab size and add-one priors; the held-out
    * half is classified by argmax over the five known classes of
    *   ln((prior_l+1)/(n_train+L)) + Σ_tok n·ln((c_{l,tok}+1)/(tot_l+V)).
    * Scores are milli-quantized BEFORE the argmax so the winner (and the
    * deterministic tie-break: higher score, then lexicographically LAST
    * class) is exactly reproducible cross-engine.
    *
    * Scale shape: the model is one token-keyed table with the 5 class
    * counts as columns of a single grouped pass (map-side combined,
    * vocabulary-bounded); the scalars (totals, priors, V) are a one-row
    * broadcast. Scoring shuffles reduced (doc, token, n) triples to the
    * model join, then one per-doc aggregate; the argmax is a 5-row
    * window per doc — constant fan-out, no cross-doc state.
    */
  def nbClassify(s: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val base = docs(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"),
        ((expr("instr('0123456789abcdef', substring(md5(concat('nb:', cast(doc_id as string))), 1, 1)) - 1") % 2) === 0)
          .as("is_train"))
    val trainTok = base.filter(col("is_train"))
      .select(col("lang"), explode(col("ws")).as("tok"))
    def perLang(f: String => Column): (Column, Seq[Column]) =
      (f(langs.head), langs.tail.map(f))
    val (c0, cRest) = perLang(l =>
      sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"c_$l"))
    // The scalars are DERIVED from the model table instead of
    // re-exploding the train corpus: V = countDistinct(tok) over the
    // token stream ≡ the model's row count (one row per distinct token),
    // and tot_l = Σ (lang=l) over the stream ≡ Σ c_l over the model
    // (c_l sums to exactly the lang-l token count, 0-filled where
    // absent). Identical values (the cmsCellsFromCounts precedent —
    // guide §2.3). The model is then PINNED size-aware: vocabulary-
    // bounded rows, but the cache build serializes what were two
    // parallel corpus stages — see [[pinModelIfCorpusLarge]] for the
    // measured sf0.1 regression and the sf1 crossover.
    val model = pinModelIfCorpusLarge(
      trainTok.groupBy(col("tok")).agg(c0, cRest: _*), dir)
    val scalars = model.agg(
      count(lit(1)).as("v"),
      langs.map(l => sum(col(s"c_$l")).as(s"tot_$l")): _*)
    val priors = base.filter(col("is_train")).agg(
      count(lit(1)).as("n_train"),
      langs.map(l => sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"p_$l")): _*)
    val heldTok = base.filter(!col("is_train"))
      .select(col("doc_id"), col("lang"), explode(col("ws")).as("tok"))
      .groupBy(col("doc_id"), col("lang"), col("tok")).agg(count(lit(1)).as("n"))
    val (s0, sRest) = perLang(l =>
      sum(col("n") * log((coalesce(col(s"c_$l"), lit(0L)) + 1).cast("double")
        / (col(s"tot_$l") + col("v")).cast("double"))).as(s"s_$l"))
    val scored = heldTok
      .join(model, Seq("tok"), "left")
      .crossJoin(broadcast(scalars))
      .groupBy(col("doc_id"), col("lang"))
      .agg(s0, sRest: _*)
      .crossJoin(broadcast(priors))
      .select(col("doc_id") +: col("lang") +: langs.map(l =>
        round((col(s"s_$l") + log((col(s"p_$l") + 1).cast("double")
          / (col("n_train") + langs.size).cast("double"))) * 1000)
          .cast("long").as(s"m_$l")): _*)
    // argmax with the deterministic tie-break, identically expressible in
    // SQL: unpivot the 5 milli scores, rank per doc by (score, class) desc
    val unpivoted = scored.select(col("doc_id"), col("lang"),
      explode(array(langs.map(l =>
        struct(col(s"m_$l").as("score_milli"), lit(l).as("cand"))): _*)).as("sc"))
      .select(col("doc_id"), col("lang"),
        col("sc.score_milli").as("score_milli"), col("sc.cand").as("cand"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_milli").desc, col("cand").desc)
    unpivoted.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("cand").as("pred"),
        col("score_milli"), (col("lang") === col("cand")).as("correct"))
  }

  /** Dataset-card rollup: the one-pass corpus report a pipeline publishes
    * with every dataset release — per source, per language, per
    * (source, language) cell and the grand total: document count, token
    * and character volume, exact-duplicate count (docs minus distinct
    * text hashes) and the Gopher-rule pass count. CUBE computes all four
    * grouping levels in the same aggregation; NULL group keys are
    * labeled 'ALL' via GROUPING so the card reads as a flat table.
    *
    * Scale shape: one wide pass — the cube expands each reduced row into
    * its 4 grouping-set replicas map-side, all map-side combined; the
    * distinct-text count keys on md5(text) (32 bytes/doc on the wire,
    * never the text). Per-doc signals (tokens, Gopher flags) are narrow
    * reuses of [[gopherRulesOn]].
    */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val frame = gopherRulesOn(d)
      .select(col("doc_id"), col("n_tok"), col("pass"))
      .join(d.select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), md5(col("text")).as("th")), Seq("doc_id"))
    frame.cube(col("source"), col("lang"))
      .agg(grouping(col("source")).as("gs"), grouping(col("lang")).as("gl"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("tot_tok"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        (count(lit(1)) - countDistinct(col("th"))).cast("long").as("n_dup"),
        sum(when(col("pass"), 1L).otherwise(0L)).cast("long").as("n_pass"))
      .select(
        when(col("gs") === 1, "ALL").otherwise(col("source")).as("source_g"),
        when(col("gl") === 1, "ALL").otherwise(col("lang")).as("lang_g"),
        col("n_docs"), col("tot_tok"), col("sum_chars"), col("n_dup"), col("n_pass"))
  }

  /** Number of BPE merge rounds [[bpeTokenize]] trains. Frozen so the
    * oracle's literal replay and the spec's hand computations stay
    * stable; training stops early (deterministically) when no pair
    * reaches count 2.
    */
  private[graft] val BpeMerges = 12

  /** Shared BPE trainer for [[bpeTokenize]] and [[tokenizeApply]]: ONE
    * corpus pass extracts the frequency-weighted word vocabulary, then up
    * to [[BpeMerges]] merge rounds run against the materialized
    * (localCheckpointed) vocab table — each round is a vocabulary-bounded
    * map-side-combined pair count plus a deterministic argmax (count
    * desc, then pair lexicographic). Returns the (doc_id, w) word stream
    * and the post-merge vocab (w, n, seq); the trained merge list is
    * stashed in [[BpeOracle]] so both queries' DuckDB oracles replay the
    * identical merges as literal replace chains. The driver holds one
    * (pair, count) row per round, nothing else.
    */
  private def bpeTrain(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir)
    val tok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val base = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .withColumn("seq", concat(regexp_replace(col("w"), "(.)", "|$1"), lit("$|")))
      .localCheckpoint()
    // Enforce (not just document) the delimiter invariant: '|' delimits
    // symbols, '$' marks end-of-word, and merge symbols are interpolated
    // into single-quoted SQL literals on both engines — a corpus token
    // containing any of the three would silently corrupt the seq encoding
    // or break the oracle's replace chain. The check is vocab-bounded
    // (base is already materialized) and fails fast with the offender.
    val badW = base.filter(col("w").rlike("[|$']")).select(col("w")).head(1)
    require(badW.isEmpty,
      s"BPE delimiter invariant violated: corpus token ${badW.head.getString(0)} " +
        "contains one of | $ ' (reserved as symbol delimiter / end-of-word " +
        "marker / SQL quote)")
    var vocab = base
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (!done && merges.size < BpeMerges) {
      val arr = filter(split(col("seq"), "\\|"), x => length(x) > 0)
      val prs = when(size(arr) >= 2,
        transform(sequence(lit(1), size(arr) - 1),
          i => struct(element_at(arr, i).as("x"), element_at(arr, i + 1).as("y"))))
        .otherwise(array().cast("array<struct<x:string,y:string>>"))
      val top = vocab.select(col("n"), explode(prs).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2L) done = true
      else {
        val (x, y) = (top(0).getString(0), top(0).getString(1))
        merges += ((x, y))
        vocab = vocab.withColumn("seq",
          expr(s"replace(replace(seq, '|$x|$y|', '|$x$y|'), '|$x|$y|', '|$x$y|')"))
        // r20: re-materialize the vocab every few merges. Round r's plan
        // otherwise stacks r replace-pairs over the checkpointed base, so
        // every round re-analyzes and re-compiles a linearly growing
        // expression chain — the r20 trainer profile
        // (`git show 9f24135:src/main/scala/graft/tools/R20TrainerProf.scala`)
        // measured the per-round executor jobs at ~0.1 s (1 near-empty
        // task) while wall-minus-jobs driver time was ~0.5 s/round and
        // growing. The checkpoint is one ~50 ms job over the
        // vocabulary-bounded table and resets the plan to a leaf — total
        // driver work drops from O(rounds²) to O(rounds). Values are
        // unchanged (a checkpoint is a materialization barrier, not a
        // transformation); the BPE oracle + specs pin the trained merges.
        if (merges.size % 4 == 0) vocab = vocab.localCheckpoint()
      }
    }
    BpeOracle.stash.put(dir, merges.toList)
    (tok, vocab)
  }

  /** Distributed BPE vocabulary learning + subword token counting — the
    * tokenizer-training step of a corpus pipeline, done the way
    * industrial BPE trainers do it: ONE corpus pass extracts the
    * frequency-weighted word vocabulary, then every merge round runs
    * against the materialized vocab table (vocabulary-bounded, never the
    * corpus). Each round counts adjacent symbol pairs weighted by word
    * frequency (one map-side-combined aggregate), picks the argmax
    * (ties: count desc, then pair lexicographic — fully deterministic),
    * and applies the merge to the vocab. Application is TWO left-to-right
    * replace sweeps per merge — a deterministic variant of BPE apply (on
    * runs of a repeated symbol it differs from textbook greedy apply,
    * e.g. `aaaaaa` → `aa,a,aa,a` rather than `aa,aa,aa`) whose semantics
    * are identical in Spark and
    * DuckDB (`replace` resumes after the replacement in both), which is
    * what lets the trained merges replay as SQL literals
    * ([[BpeOracle]], the PcaModels dynamic-oracle pattern). Symbols are
    * pipe-delimited (`|c|a|t$|`; `$` marks end-of-word, neither occurs
    * in the corpus alphabet) so merge patterns `|x|y|` can never match
    * inside a longer symbol.
    *
    * The catalog result is the per-document subword economics: word,
    * char and BPE-token counts plus integer chars-per-token mills —
    * computed by JOINING per-doc word counts against the tokenized
    * vocab (token-keyed, the nb_classify shape); the corpus text is
    * never re-tokenized per document.
    *
    * Scale shape: corpus→vocab is the only corpus-scale pass; T merge
    * rounds cost T vocabulary-bounded aggregates (the round-r job
    * re-applies r prior replaces over the checkpointed vocab — at a
    * 10M-word production vocab you would checkpoint every few rounds;
    * the structure is the same). The driver holds one (pair, count) row
    * per round, nothing else.
    */
  def bpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val (tok, vocab) = bpeTrain(s, dir)
    val lookup = vocab.select(col("w"),
      (length(col("seq")) - length(expr("replace(seq, '|', '')")) - 1)
        .cast("long").as("n_sub"))
    tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
      .join(lookup, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_words"),
        sum(col("n") * length(col("w"))).cast("long").as("n_chars"),
        sum(col("n") * col("n_sub")).cast("long").as("n_bpe"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_bpe"),
        expr("n_chars * 1000 div n_bpe").as("chars_per_tok_milli"))
  }

  /** Tokenizer APPLY — the encode path a pipeline actually runs at
    * 100 TB: every document rendered as its BPE token-id stream. Trains
    * the same deterministic merge list as [[bpeTokenize]] (shared
    * [[bpeTrain]]), assigns dense integer ids to the post-merge symbol
    * alphabet (rank by bytewise symbol order), renders each VOCAB WORD
    * once as its id string, then encodes the corpus with one ordered
    * word explode + a word-keyed join + one doc-keyed ordered
    * reassembly. Output: doc_id, n_tok (subword count) and the full
    * space-joined id stream.
    *
    * Scale shape: everything symbol- or word-level is vocabulary-bounded
    * (the symbol-id window runs over the symbol alphabet — hundreds of
    * rows at any SF; a production 1M-entry vocab would swap it for a
    * two-phase rank, same contract). The corpus pays exactly one
    * explode→join (word-keyed, map-side combinable nowhere — it is a
    * pure lookup) and one groupBy(doc_id) reassembly sorted by word
    * position — the partitioning a sharded corpus already has. No
    * per-document re-tokenization: merges are applied to the vocab,
    * never the text.
    */
  def tokenizeApply(s: SparkSession, dir: String): DataFrame = {
    val (tok0, vocab) = bpeTrain(s, dir)
    val syms = filter(split(col("seq"), "\\|"), x => length(x) > 0)
    // symbol alphabet -> dense ids; bounded by the post-merge alphabet
    // (base chars + end marker + BpeMerges), so the single-partition
    // window is O(hundreds) at any SF.
    val sid = vocab.select(explode(syms).as("s")).distinct()
      .select(col("s"),
        row_number().over(Window.orderBy(col("s"))).cast("long").as("id"))
    val wsym = vocab.select(col("w"), posexplode(syms).as(Seq("p", "s")))
    val wids = wsym.join(sid, "s")
      .groupBy(col("w"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("p"), col("id")))),
          x => x.getField("id").cast("string")), " ").as("ids_str"),
        count(lit(1)).cast("long").as("n_sub"))
    val words = docs(s, dir).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    words.join(wids, "w")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("ids_str")))),
          x => x.getField("ids_str")), " ").as("ids"),
        sum(col("n_sub")).cast("long").as("n_tok"))
      .select(col("doc_id"), col("n_tok"), col("ids"))
  }

  /** WordPiece-style greedy longest-match subword encode — the second
    * tokenizer family beside BPE ([[bpeTokenize]]/[[tokenizeApply]]).
    * Where BPE learns merge RULES and replays them, this learns a piece
    * VOCABULARY (top-256 frequency-weighted word substrings of length
    * 2..6, plus every single character so a match always exists —
    * deterministic ties by count desc then piece) and encodes each word
    * by repeatedly taking the LONGEST vocab piece at the cursor — the
    * WordPiece/SentencePiece greedy-prefix inference algorithm (Wu et
    * al. 2016), minus the `##` continuation marker.
    *
    * Unlike the BPE rows, the oracle is fully SELF-DERIVED: vocabulary
    * selection, longest-match tables and the greedy walk (a linear-chain
    * recursive CTE) are all recomputed independently by DuckDB — no
    * trained literals are stashed, so the gate covers training AND
    * inference arithmetic end to end.
    *
    * Scale shape: the corpus is touched exactly twice — one scan
    * extracts the frequency-weighted word vocabulary (materialized via
    * localCheckpoint, the [[bpeTrain]] discipline), one ordered word
    * explode joins the broadcast word→pieces table and reassembles per
    * doc (the partitioning a sharded corpus already has). Everything
    * else — substring candidates (≤ len·5 rows per vocab WORD), the
    * longest-match table, the greedy walk — is vocabulary-bounded; the
    * walk itself is one interpreted `aggregate` HOF over word positions,
    * acceptable ONLY because it runs on the distinct-word table, never
    * the corpus (the SCALE.md DSIR rule: interpreted HOFs on bounded
    * tables only).
    */
  private val MaxPiece = 6

  /** Shared subword machinery for [[wordpiece]] and [[optimalSegment]]:
    * the ordered (doc_id, pos, w) word stream, the frequency-weighted
    * distinct-word table (materialized — the one corpus scan), the piece
    * vocabulary (top-256 weighted substrings of length 2..[[MaxPiece]]
    * plus every single char), and the full match table — every
    * (word, position, length) whose substring is a vocab piece.
    */
  private def subwordParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = subwordPartsOf(docs(s, dir))

  private[graft] def subwordPartsOf(d: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val words = d.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val wc = words.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // vocab: top frequency-weighted substrings (every occurrence of a
    // piece inside a word counts, weighted by word frequency) + all
    // single characters (the guaranteed fallback match)
    val sub0 = wc.select(col("w"), col("n"),
      explode(sequence(lit(1), length(col("w")))).as("p"))
    val topPieces = sub0
      .select(col("w"), col("n"), col("p"),
        explode(sequence(lit(2), lit(MaxPiece))).as("l"))
      .filter(col("p") + col("l") - 1 <= length(col("w")))
      .select(col("w").substr(col("p"), col("l")).as("piece"), col("n"))
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("piece")).limit(256)
      .select(col("piece"))
    val chars = sub0.select(col("w").substr(col("p"), lit(1)).as("piece")).distinct()
    val pieces = topPieces.union(chars).distinct()
    val matches = sub0
      .select(col("w"), col("p"), explode(sequence(lit(1), lit(MaxPiece))).as("l"))
      .filter(col("p") + col("l") - 1 <= length(col("w")))
      .select(col("w"), col("p"), col("l"),
        col("w").substr(col("p"), col("l")).as("piece"))
      .join(broadcast(pieces), "piece")
      .select(col("w"), col("p"), col("l"))
    (words, wc, matches)
  }

  def wordpiece(s: SparkSession, dir: String): DataFrame = {
    val (words, _, matches) = subwordParts(s, dir)
    // longest-match table: per (word, position) the longest vocab piece
    // starting there (>= 1 always, via the single-char fallback)
    val m = matches.groupBy(col("w"), col("p")).agg(max(col("l")).as("len"))
    // greedy walk per word: cursor advances by the match length; the
    // aggregate HOF scans positions 1..len(w) and fires only where the
    // cursor sits — O(len) per word, on the vocab table only
    val larr = m.groupBy(col("w"))
      .agg(transform(array_sort(collect_list(struct(col("p"), col("len")))),
        x => x.getField("len")).as("larr"))
    val walkSt = aggregate(
      sequence(lit(1), length(col("w"))),
      struct(lit(1).as("pos"), array().cast("array<string>").as("acc")),
      (st, i) => when(i === st.getField("pos"),
        struct(
          (st.getField("pos") + element_at(col("larr"), i)).as("pos"),
          concat(st.getField("acc"),
            array(col("w").substr(i, element_at(col("larr"), i)))).as("acc")))
        .otherwise(st))
    val wp = larr.select(col("w"), walkSt.getField("acc").as("ps"))
      .select(col("w"), array_join(col("ps"), " ").as("wp_str"),
        size(col("ps")).cast("long").as("n_sub"))
    // encode: one word-keyed broadcast lookup + one doc-keyed ordered
    // reassembly — the corpus's second and last scan
    words.join(broadcast(wp), "w")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("wp_str")))),
          x => x.getField("wp_str")), " ").as("wp"),
        sum(col("n_sub")).cast("long").as("n_wp"))
      .select(col("doc_id"), col("n_wp"), col("wp"))
  }

  /** OPTIMAL subword segmentation — the exact dynamic program beside
    * [[wordpiece]]'s greedy heuristic: per word, the MINIMUM number of
    * vocab pieces that tile it (greedy longest-match is not optimal —
    * taking a long piece can strand the remainder in single chars), via
    * the classic segmentation DP best[k] = 1 + min over vocab pieces
    * ending at k of best[k − len]. Same vocabulary as the greedy row, so
    * the per-doc (n_greedy, n_opt, saved) economics quantify exactly
    * what the cheaper inference algorithm costs — the eval a tokenizer
    * rollout runs before choosing its serving path.
    *
    * Distribution of a DP: the recurrence is sequential per word, so it
    * runs as ONE `aggregate` HOF over positions on the DISTINCT-WORD
    * table (vocabulary-bounded, the SCALE.md rule), with each word's
    * piece matches pre-folded into a dense per-position BITMASK array
    * (bit l−1 set ⟺ a length-l vocab piece ends at that position) by a
    * plain grouped `bit_or` — the corpus never sees the DP, it pays the
    * same two scans as the greedy row. The oracle re-derives everything
    * and replaces the DP with its dual: a shortest-path reachability
    * walk (recursive CTE over (word, prefix-covered, cost) states —
    * UNION-deduped, ≤ len² states per word — then MIN(cost) at the full
    * prefix), so the two engines prove the same optimum by different
    * algorithms — a stronger cross-check than replaying one algorithm
    * twice.
    */
  def optimalSegment(s: SparkSession, dir: String): DataFrame =
    optimalSegmentOf(docs(s, dir))

  private[graft] def optimalSegmentOf(d: DataFrame): DataFrame = {
    val (words, _, matches) = subwordPartsOf(d)
    // dense per-position match bitmasks: bms[k] has bit l-1 set iff the
    // length-l suffix of prefix k is a vocab piece (k = p + l - 1);
    // every position has at least bit 0 (single chars are in the vocab)
    val bms = matches
      .groupBy(col("w"), (col("p") + col("l") - 1).as("end"))
      .agg(expr("bit_or(shiftleft(1, l - 1))").as("bm"))
      .groupBy(col("w"))
      .agg(transform(array_sort(collect_list(struct(col("end"), col("bm")))),
        x => x.getField("bm")).as("bms"))
    val BIG = lit(1000000)
    val dp = aggregate(
      sequence(lit(1), length(col("w"))),
      array(lit(0)),
      (acc, k) => {
        val bm = element_at(col("bms"), k)
        val cands = (1 to MaxPiece).map { l =>
          when(k >= l && bm.bitwiseAND(lit(1 << (l - 1))) =!= 0,
            element_at(acc, k - l + 1) + 1).otherwise(BIG)
        }
        concat(acc, array(least(cands: _*)))
      })
    val opt = bms.select(col("w"),
      element_at(dp, length(col("w")) + 1).cast("long").as("n_opt"))
    // greedy piece counts for the same vocab: longest match per position,
    // walked by the same cursor HOF as the greedy row
    val m = matches.groupBy(col("w"), col("p")).agg(max(col("l")).as("len"))
    val larr = m.groupBy(col("w"))
      .agg(transform(array_sort(collect_list(struct(col("p"), col("len")))),
        x => x.getField("len")).as("larr"))
    val greedySt = aggregate(
      sequence(lit(1), length(col("w"))),
      struct(lit(1).as("pos"), lit(0).as("k")),
      (st, i) => when(i === st.getField("pos"),
        struct((st.getField("pos") + element_at(col("larr"), i)).as("pos"),
          (st.getField("k") + 1).as("k")))
        .otherwise(st))
    val greedy = larr.select(col("w"),
      greedySt.getField("k").cast("long").as("n_greedy"))
    words.join(broadcast(greedy.join(opt, "w")), "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_greedy")).cast("long").as("n_greedy"),
        sum(col("n_opt")).cast("long").as("n_opt"))
      .select(col("doc_id"), col("n_greedy"), col("n_opt"),
        (col("n_greedy") - col("n_opt")).as("saved"))
  }

  /** Hashed-ngram feature buckets for [[dsirSelect]]: 4096 keeps the
    * bucket table broadcastable at any corpus size (the paper uses 10k
    * for trillion-token corpora — same order).
    */
  private[graft] val DsirBuckets = 4096L

  /** Add-one-smoothed log-likelihood ratio per hashed-ngram bucket,
    * quantized to integer MICRO-units at the (bounded) bucket table so
    * downstream corpus aggregates are exact integer sums. Shared by the
    * batch selector ([[dsirSelect]]) and the streaming gate
    * ([[streamDsir]]); input is (b, raw_n, tgt_n) bucket counts.
    */
  private def dsirRatio(buckets: DataFrame): DataFrame = {
    val b = DsirBuckets
    val totals = buckets.agg(sum(col("raw_n")).as("rt"),
      sum(col("tgt_n")).as("tt"))
    buckets.crossJoin(broadcast(totals))
      .select(col("b"),
        round((log((col("tgt_n") + 1).cast("double") /
                   (col("tt") + b).cast("double")) -
               log((col("raw_n") + 1).cast("double") /
                   (col("rt") + b).cast("double"))) * 1e6)
          .cast("long").as("ratio"))
  }

  /** DSIR-style data selection (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169): score every
    * document by how much its hashed-ngram profile resembles a TARGET
    * corpus (here the 'en' slice — in production, the high-quality
    * domain you want more of) versus the RAW corpus, and keep the top
    * eighth. Features are unigrams + bigrams hashed into
    * [[DsirBuckets]] buckets; each bucket gets an add-one-smoothed
    * log-likelihood ratio ln(p_tgt) − ln(p_raw), and a document's
    * importance weight is the sum of its bucket counts times those
    * ratios.
    *
    * Determinism: the per-bucket ratio is quantized to integer
    * MICRO-units immediately (one `ln` per bucket — 4096 doubles
    * total), so every corpus-sized aggregate downstream is an exact
    * integer sum, independent of partitioning and summation order; ties
    * in the final rank break by doc_id.
    *
    * Scale shape: one corpus pass explodes grams and reduces them
    * map-side-combined to (doc, bucket) counts — the only corpus-sized
    * shuffle, keyed by the doc partitioning the corpus already has.
    * The bucket distribution table is DsirBuckets rows regardless of
    * corpus size, reduced once and broadcast back; the top-⅛ cut is
    * TakeOrderedAndProject (per-partition top-N, no global sort). At
    * 100 TB nothing driver-side grows: the driver holds one count and
    * the 4096-row ratio table stays executor-side.
    */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val b = DsirBuckets
    // Gram→bucket stream, hashed ONCE and checkpointed as narrow
    // (doc_id, tgt, bucket) rows — no shuffle, no wide hash aggregation
    // (a (doc,bucket)-keyed reduce would build a corpus-cardinality
    // hash table for ~1.2 rows of reduction). Both consumers below
    // reduce the checkpoint to something tiny before their shuffles.
    // Hashing is the native per-document NgramBuckets expression (one
    // md5 loop over cached token bytes, no per-gram string/hex churn —
    // the interpreted HOF form cost 145 s for the sf10 gram stage).
    // DISK_ONLY, not heap: the gram stream is ~2 bucket rows per token
    // — bigger than the corpus — so caching it on-heap evicts/GC-
    // thrashes exactly when the corpus is large (sf10 consumers ran
    // 27-36 s each under an 8 GB heap vs 1-4 s once the heap was free);
    // executor-local disk rides the page cache and leaves the heap to
    // the aggregations. The broadcast (ratio) side executes first, so
    // one action materializes the cache before the probe side rescans.
    val grams = graft.core.CacheRegistry.register(docs(s, dir)
      .select(col("doc_id"), (col("lang") === "en").as("tgt"),
        explode(graft.functions.NgramBuckets.column(col("text"), 2, b)).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    // pass 1: bucket distributions — partial agg caps every partition's
    // contribution at DsirBuckets rows, so the shuffle is ~nothing.
    val ratio = dsirRatio(grams.groupBy(col("b"))
      .agg(count(lit(1)).as("raw_n"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("tgt_n")))
    // pass 2: per-doc weight = Σ ratio[bucket] over gram INSTANCES (≡
    // Σ n·ratio over buckets). A doc's grams never leave its partition,
    // so the partial agg emits one row per doc — the weight shuffle is
    // n_docs rows regardless of corpus size.
    val nDocs = docs(s, dir).count()
    grams.join(broadcast(ratio), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("ratio")).as("w_micro"))
      .orderBy(col("w_micro").desc, col("doc_id"))
      .limit(((nDocs + 7) / 8).toInt)
  }

  /** STREAMING DSIR gate — the other half of [[dsirSelect]]'s contract
    * and the shape a 100 TB ingest actually runs: the importance model
    * is trained ONCE offline (same hashed-ngram bucket ratios, same
    * integer micro-quantization, materialized at its bounded 4096-row
    * size), then every arriving micro-batch is scored against the
    * broadcast model and gated where the target-vs-raw log-likelihood
    * favors the target (w ≥ 0) — train-once-apply-on-stream, the
    * [[heldoutLm]] discipline on the streaming path. Scoring is
    * stateless (no state store, no watermark): a document's weight
    * needs only its own grams plus the model, so each batch pays one
    * native-hash pass, one broadcast join, one batch-local per-doc sum.
    * The replay is 3 files → 3 micro-batches; the hash gate proves the
    * per-batch scores equal the batch formula over the whole corpus —
    * scoring a doc in micro-batch k with a frozen model is exactly
    * scoring it in one big batch.
    */
  def streamDsir(s: SparkSession, dir: String): DataFrame = {
    val b = DsirBuckets
    // offline training pass: one corpus scan -> 4096-row frozen model
    // (localCheckpoint, so micro-batches replay the table, not the scan)
    val ratio = dsirRatio(
      docs(s, dir)
        .select((col("lang") === "en").as("tgt"),
          explode(graft.functions.NgramBuckets.column(col("text"), 2, b)).as("b"))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("raw_n"),
          sum(when(col("tgt"), 1L).otherwise(0L)).as("tgt_n")))
      .localCheckpoint()
    val src = Tmp.stagedOnce("sdsir", dir) { p =>
      docs(s, dir).select(col("doc_id"), col("text"))
        .repartition(3).write.mode("overwrite").parquet(p)
      p
    }
    // wiped at entry: the returned DataFrame reads the scores lazily
    val out = Tmp.staged("sdsir_out", dir)
    Tmp.deleteRecursively(java.nio.file.Paths.get(out))
    Tmp.replay("graft-sdsir-ckpt") { ckpt =>
      s.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // foreachBatch is at-least-once: a retried micro-batch must not
          // append duplicate rows. Each batch overwrites its own
          // batchId-named subdirectory, so a replay is idempotent; the
          // read-back below lists the leaves recursively.
          batch.select(col("doc_id"),
              explode(graft.functions.NgramBuckets.column(col("text"), 2, b)).as("b"))
            .join(broadcast(ratio), "b")
            .groupBy(col("doc_id"))
            .agg(sum(col("ratio")).as("w_micro"))
            .select(col("doc_id"), col("w_micro"),
              (col("w_micro") >= 0).as("kept"))
            .write.mode("overwrite").parquet(s"$out/b$batchId")
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    s.read.option("recursiveFileLookup", "true").parquet(out)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dsir_select" -> dsirSelect _,
    "q_stream_dsir" -> streamDsir _,
    "q_bpe_tokenize" -> bpeTokenize _,
    "q_tokenize_apply" -> tokenizeApply _,
    "q_wordpiece" -> wordpiece _,
    "q_optimal_segment" -> optimalSegment _,
    "q_shard_append" -> shardAppend _,
    "q_epoch_shuffle" -> epochShuffle _,
    "q_heldout_lm" -> heldoutLm _,
    "q_nb_classify" -> nbClassify _,
    "q_dataset_card" -> datasetCard _,
    "q_contrastive_pairs" -> contrastivePairs _,
    "q_contrastive_ivf" -> contrastiveIvf _,
    "q_chunk_windows" -> chunkWindows _,
    "q_inverted_index" -> invertedIndex _,
    "q_skipgram_pairs" -> skipgramPairs _,
    "q_curation_e2e" -> curationE2e _,
    "q_substring_dedup" -> substringDedup _,
    "q_token_budget" -> tokenBudget _,
    "q_mix_weights" -> mixWeights _,
    "q_decontaminate" -> decontaminate _,
    "q_repetition" -> repetition _,
    "q_domain_mix" -> domainMix _,
    "q_bm25" -> bm25 _,
    "q_semdedup_prune" -> semdedupPrune _,
    "q_line_dedup" -> lineDedup _,
    "q_gopher_rules" -> gopherRules _,
    "q_ngram_lm" -> ngramLm _)

  /** Shared DuckDB CTE prefix for the subword oracles: tokenized word
    * stream, frequency-weighted vocab words, self-derived piece
    * vocabulary, and the full piece match table `mm(w, p, l)` plus the
    * longest-match table `m(w, p, len)`. Both subword oracles re-derive
    * the training from scratch — no stashed literals.
    */
  private lazy val subwordCte: String =
    """WITH RECURSIVE dw AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |wpos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS pos FROM dw),
      |words AS (SELECT doc_id, pos, ws[CAST(pos AS INT)] AS w
      |  FROM wpos WHERE ws[CAST(pos AS INT)] <> ''),
      |wc AS (SELECT w, COUNT(*) AS n FROM words GROUP BY w),
      |sub0 AS (SELECT w, n, unnest(generate_series(1, length(w))) AS p FROM wc),
      |sub1 AS (SELECT w, n, p, unnest(generate_series(2, 6)) AS l FROM sub0),
      |topp AS (SELECT piece FROM (
      |  SELECT substr(w, CAST(p AS INT), CAST(l AS INT)) AS piece,
      |    CAST(SUM(n) AS BIGINT) AS cnt
      |  FROM sub1 WHERE p + l - 1 <= length(w)
      |  GROUP BY 1 ORDER BY cnt DESC, piece LIMIT 256)),
      |ch AS (SELECT DISTINCT substr(w, CAST(p AS INT), 1) AS piece FROM sub0),
      |pieces AS (SELECT DISTINCT piece FROM
      |  (SELECT piece FROM topp UNION ALL SELECT piece FROM ch)),
      |c1 AS (SELECT w, p, unnest(generate_series(1, 6)) AS l FROM sub0),
      |cand AS (SELECT w, p, l, substr(w, CAST(p AS INT), CAST(l AS INT)) AS piece
      |  FROM c1 WHERE p + l - 1 <= length(w)),
      |mm AS (SELECT cand.w, cand.p, cand.l
      |  FROM cand JOIN pieces USING (piece)),
      |m AS (SELECT w, p, MAX(l) AS len FROM mm GROUP BY w, p)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // fully self-derived: DuckDB retrains the piece vocabulary and
    // re-runs the greedy longest-match walk (linear-chain recursive CTE)
    "q_wordpiece" -> (subwordCte +
      """,
        |walk(w, pos, acc, k) AS (
        |  SELECT w, CAST(1 AS BIGINT), CAST('' AS VARCHAR), CAST(0 AS BIGINT) FROM wc
        |  UNION ALL
        |  SELECT walk.w, walk.pos + m.len,
        |    CASE WHEN walk.acc = ''
        |         THEN substr(walk.w, CAST(walk.pos AS INT), CAST(m.len AS INT))
        |         ELSE walk.acc || ' ' ||
        |              substr(walk.w, CAST(walk.pos AS INT), CAST(m.len AS INT)) END,
        |    walk.k + 1
        |  FROM walk JOIN m ON m.w = walk.w AND m.p = walk.pos
        |  WHERE walk.pos <= length(walk.w)),
        |wp AS (SELECT w, acc AS wp_str, k AS n_sub FROM walk
        |  WHERE pos = length(w) + 1)
        |SELECT words.doc_id, CAST(SUM(wp.n_sub) AS BIGINT) AS n_wp,
        |  string_agg(wp.wp_str, ' ' ORDER BY words.pos) AS wp
        |FROM words JOIN wp USING (w)
        |GROUP BY words.doc_id""".stripMargin),

    // the optimum via the DP's DUAL: shortest-path reachability over
    // (word, prefix-covered, cost) states — UNION-deduped, <= len^2
    // states per word — proving the same minimum by a different
    // algorithm than Spark's forward DP
    "q_optimal_segment" -> (subwordCte +
      """,
        |gwalk(w, pos, k) AS (
        |  SELECT w, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM wc
        |  UNION ALL
        |  SELECT gwalk.w, gwalk.pos + m.len, gwalk.k + 1
        |  FROM gwalk JOIN m ON m.w = gwalk.w AND m.p = gwalk.pos
        |  WHERE gwalk.pos <= length(gwalk.w)),
        |greedy AS (SELECT w, k AS n_greedy FROM gwalk WHERE pos = length(w) + 1),
        |owalk(w, covered, c) AS (
        |  SELECT w, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM wc
        |  UNION
        |  SELECT mm.w, mm.p + mm.l - 1, owalk.c + 1
        |  FROM owalk JOIN mm ON mm.w = owalk.w AND mm.p = owalk.covered + 1),
        |opt AS (SELECT w, MIN(c) AS n_opt FROM owalk
        |  WHERE covered = length(w) GROUP BY w)
        |SELECT words.doc_id,
        |  CAST(SUM(greedy.n_greedy) AS BIGINT) AS n_greedy,
        |  CAST(SUM(opt.n_opt) AS BIGINT) AS n_opt,
        |  CAST(SUM(greedy.n_greedy) - SUM(opt.n_opt) AS BIGINT) AS saved
        |FROM words JOIN greedy USING (w) JOIN opt USING (w)
        |GROUP BY words.doc_id""".stripMargin),

    "q_dsir_select" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
        |           FROM documents),
        |g0 AS (
        |  SELECT doc_id, lang, unnest(ws) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i + 1])) AS g FROM t),
        |gb AS (SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS b
        |  FROM g0),
        |bt AS (SELECT b, COUNT(*) AS raw_n,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tgt_n
        |  FROM gb GROUP BY b),
        |tot AS (SELECT CAST(SUM(raw_n) AS BIGINT) AS rt,
        |               CAST(SUM(tgt_n) AS BIGINT) AS tt FROM bt),
        |r AS (SELECT b,
        |    CAST(ROUND((ln(CAST(tgt_n + 1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE))
        |              - ln(CAST(raw_n + 1 AS DOUBLE) / CAST(rt + 4096 AS DOUBLE)))
        |         * 1000000) AS BIGINT) AS ratio
        |  FROM bt, tot),
        |db AS (SELECT doc_id, b, COUNT(*) AS n FROM gb GROUP BY 1, 2),
        |w AS (SELECT doc_id, CAST(SUM(n * ratio) AS BIGINT) AS w_micro
        |  FROM db JOIN r USING (b) GROUP BY doc_id),
        |rk AS (SELECT doc_id, w_micro,
        |    row_number() OVER (ORDER BY w_micro DESC, doc_id) AS rk FROM w)
        |SELECT doc_id, w_micro FROM rk
        |WHERE 8 * rk <= (SELECT COUNT(*) FROM documents) + 7""".stripMargin,
    "q_stream_dsir" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
        |           FROM documents),
        |g0 AS (
        |  SELECT doc_id, lang, unnest(ws) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i + 1])) AS g FROM t),
        |gb AS (SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS b
        |  FROM g0),
        |bt AS (SELECT b, COUNT(*) AS raw_n,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tgt_n
        |  FROM gb GROUP BY b),
        |tot AS (SELECT CAST(SUM(raw_n) AS BIGINT) AS rt,
        |               CAST(SUM(tgt_n) AS BIGINT) AS tt FROM bt),
        |r AS (SELECT b,
        |    CAST(ROUND((ln(CAST(tgt_n + 1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE))
        |              - ln(CAST(raw_n + 1 AS DOUBLE) / CAST(rt + 4096 AS DOUBLE)))
        |         * 1000000) AS BIGINT) AS ratio
        |  FROM bt, tot),
        |db AS (SELECT doc_id, b, COUNT(*) AS n FROM gb GROUP BY 1, 2),
        |w AS (SELECT doc_id, CAST(SUM(n * ratio) AS BIGINT) AS w_micro
        |  FROM db JOIN r USING (b) GROUP BY doc_id)
        |SELECT doc_id, w_micro, w_micro >= 0 AS kept FROM w""".stripMargin,
    "q_shard_append" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST((instr('0123456789abcdef',
        |          substr(md5('epoch7:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 AS INT) AS shard,
        |    md5('epoch7:ord:' || CAST(doc_id AS VARCHAR)) AS ord,
        |    ((instr('0123456789abcdef',
        |       substr(md5('crawl:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0) AS is_old
        |  FROM documents),
        |v1 AS (SELECT doc_id, shard, n_tok,
        |         CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos,
        |         CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY ord, doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS tok_offset
        |       FROM d WHERE is_old),
        |tails AS (SELECT shard, MAX(pos) AS base_pos, SUM(n_tok) AS base_tok
        |          FROM v1 GROUP BY shard),
        |v2 AS (SELECT n.doc_id, n.shard, n.n_tok,
        |         CAST(row_number() OVER (PARTITION BY n.shard ORDER BY n.ord, n.doc_id)
        |              + COALESCE(t.base_pos, 0) AS BIGINT) AS pos,
        |         CAST(SUM(n.n_tok) OVER (PARTITION BY n.shard ORDER BY n.ord, n.doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n.n_tok
        |              + COALESCE(t.base_tok, 0) AS BIGINT) AS tok_offset
        |       FROM d n LEFT JOIN tails t ON t.shard = n.shard WHERE NOT n.is_old)
        |SELECT doc_id, shard, n_tok, pos, tok_offset, 'v1' AS origin FROM v1
        |UNION ALL
        |SELECT doc_id, shard, n_tok, pos, tok_offset, 'v2' AS origin FROM v2""".stripMargin,

    "q_epoch_shuffle" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST((instr('0123456789abcdef',
        |          substr(md5('epoch7:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 AS INT) AS shard,
        |    md5('epoch7:ord:' || CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos,
        |  n_tok,
        |  CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY ord, doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS tok_offset
        |FROM d""".stripMargin,

    "q_heldout_lm" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    ((instr('0123456789abcdef',
        |       substr(md5('lm:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0) AS is_train
        |  FROM documents WHERE lang = 'en'),
        |g AS (SELECT doc_id, is_train,
        |        ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS gram,
        |        ws[CAST(i AS INT)] AS w1
        |      FROM (SELECT doc_id, is_train, ws,
        |              unnest(generate_series(1, len(ws) - 1)) AS i FROM base)),
        |m AS (SELECT gram, COUNT(*) AS c2 FROM g WHERE is_train GROUP BY gram),
        |p AS (SELECT w1, SUM(c2) AS c1 FROM (
        |        SELECT c2, string_split(gram, ' ')[1] AS w1 FROM m) GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT tok) AS v FROM (
        |        SELECT unnest(ws) AS tok FROM base WHERE is_train)),
        |hg AS (SELECT doc_id, gram, w1, COUNT(*) AS n
        |       FROM g WHERE NOT is_train GROUP BY doc_id, gram, w1),
        |j AS (SELECT hg.doc_id, hg.n, COALESCE(m.c2, 0) AS c2,
        |        COALESCE(p.c1, 0) AS c1, v.v
        |      FROM hg LEFT JOIN m USING (gram) LEFT JOIN p USING (w1) CROSS JOIN v),
        |a AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |        CAST(SUM(CASE WHEN c2 = 0 THEN n ELSE 0 END) AS BIGINT) AS n_oov,
        |        CAST(ROUND(SUM(-ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)) * n)
        |             / SUM(n) * 1000) AS BIGINT) AS surprisal_milli
        |      FROM j GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, n_oov, surprisal_milli,
        |  CASE WHEN surprisal_milli <= 3420 THEN 'head'
        |       WHEN surprisal_milli <= 3500 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM a""".stripMargin,

    "q_nb_classify" ->
      """WITH base AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS ws,
        |    ((instr('0123456789abcdef',
        |       substr(md5('nb:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0) AS is_train
        |  FROM documents),
        |tt AS (SELECT lang, unnest(ws) AS tok FROM base WHERE is_train),
        |m AS (SELECT tok,
        |        SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS c_de,
        |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
        |        SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS c_es,
        |        SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS c_fr,
        |        SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS c_zh
        |      FROM tt GROUP BY tok),
        |sc AS (SELECT COUNT(DISTINCT tok) AS v,
        |        SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS tot_de,
        |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tot_en,
        |        SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS tot_es,
        |        SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS tot_fr,
        |        SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS tot_zh
        |      FROM tt),
        |pr AS (SELECT COUNT(*) AS n_train,
        |        SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS p_de,
        |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p_en,
        |        SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS p_es,
        |        SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS p_fr,
        |        SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS p_zh
        |      FROM base WHERE is_train),
        |ht AS (SELECT doc_id, lang, tok, COUNT(*) AS n FROM (
        |         SELECT doc_id, lang, unnest(ws) AS tok FROM base WHERE NOT is_train)
        |       GROUP BY doc_id, lang, tok),
        |s AS (SELECT ht.doc_id, ht.lang,
        |        SUM(ht.n * ln(CAST(COALESCE(m.c_de, 0) + 1 AS DOUBLE) / CAST(sc.tot_de + sc.v AS DOUBLE))) AS s_de,
        |        SUM(ht.n * ln(CAST(COALESCE(m.c_en, 0) + 1 AS DOUBLE) / CAST(sc.tot_en + sc.v AS DOUBLE))) AS s_en,
        |        SUM(ht.n * ln(CAST(COALESCE(m.c_es, 0) + 1 AS DOUBLE) / CAST(sc.tot_es + sc.v AS DOUBLE))) AS s_es,
        |        SUM(ht.n * ln(CAST(COALESCE(m.c_fr, 0) + 1 AS DOUBLE) / CAST(sc.tot_fr + sc.v AS DOUBLE))) AS s_fr,
        |        SUM(ht.n * ln(CAST(COALESCE(m.c_zh, 0) + 1 AS DOUBLE) / CAST(sc.tot_zh + sc.v AS DOUBLE))) AS s_zh
        |      FROM ht LEFT JOIN m USING (tok) CROSS JOIN sc
        |      GROUP BY ht.doc_id, ht.lang),
        |mm AS (SELECT doc_id, lang,
        |        CAST(ROUND((s_de + ln(CAST(pr.p_de + 1 AS DOUBLE) / CAST(pr.n_train + 5 AS DOUBLE))) * 1000) AS BIGINT) AS m_de,
        |        CAST(ROUND((s_en + ln(CAST(pr.p_en + 1 AS DOUBLE) / CAST(pr.n_train + 5 AS DOUBLE))) * 1000) AS BIGINT) AS m_en,
        |        CAST(ROUND((s_es + ln(CAST(pr.p_es + 1 AS DOUBLE) / CAST(pr.n_train + 5 AS DOUBLE))) * 1000) AS BIGINT) AS m_es,
        |        CAST(ROUND((s_fr + ln(CAST(pr.p_fr + 1 AS DOUBLE) / CAST(pr.n_train + 5 AS DOUBLE))) * 1000) AS BIGINT) AS m_fr,
        |        CAST(ROUND((s_zh + ln(CAST(pr.p_zh + 1 AS DOUBLE) / CAST(pr.n_train + 5 AS DOUBLE))) * 1000) AS BIGINT) AS m_zh
        |      FROM s CROSS JOIN pr),
        |u AS (SELECT doc_id, lang, m_de AS score_milli, 'de' AS cand FROM mm
        |      UNION ALL SELECT doc_id, lang, m_en, 'en' FROM mm
        |      UNION ALL SELECT doc_id, lang, m_es, 'es' FROM mm
        |      UNION ALL SELECT doc_id, lang, m_fr, 'fr' FROM mm
        |      UNION ALL SELECT doc_id, lang, m_zh, 'zh' FROM mm),
        |r AS (SELECT doc_id, lang, score_milli, cand, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score_milli DESC, cand DESC) AS rk FROM u)
        |SELECT doc_id, lang, cand AS pred, score_milli, (lang = cand) AS correct
        |FROM r WHERE rk = 1""".stripMargin,

    "q_dataset_card" ->
      """WITH ws AS (SELECT doc_id, source, lang, n_chars, md5(text) AS th,
        |        string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT doc_id, source, lang, n_chars, th,
        |        CAST(len(w) AS BIGINT) AS n_tok,
        |        CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_word_len,
        |        CAST(len(list_filter(w, x -> NOT regexp_matches(x, '^[a-z]+$'))) AS BIGINT) AS n_nonalpha,
        |        CAST(len(list_filter(w, x -> list_contains(
        |          ['the','a','and','of','to','in','is','that'], x))) AS BIGINT) AS n_stop
        |      FROM ws),
        |f AS (SELECT *,
        |        ((n_tok >= 10 AND n_tok <= 100000)
        |          AND (sum_word_len >= n_tok * 2 AND sum_word_len <= n_tok * 12)
        |          AND n_nonalpha * 5 <= n_tok AND n_stop >= 2) AS pass
        |      FROM t)
        |SELECT
        |  CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source_g,
        |  CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang_g,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS tot_tok,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(*) - COUNT(DISTINCT th) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM f GROUP BY CUBE (source, lang)""".stripMargin,

    "q_contrastive_pairs" ->
      """WITH q AS (
        |  SELECT vec_id, g.i,
        |    CAST(ROUND(CAST(embedding[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS qv
        |  FROM embeddings, generate_series(1, 64) g(i)),
        |a AS (SELECT vec_id AS anchor_id, i, qv FROM q WHERE vec_id % 50 = 0),
        |d AS (SELECT a.anchor_id, c.vec_id AS cand_id,
        |        CAST(SUM(a.qv * c.qv) AS BIGINT) AS dot
        |      FROM a JOIN q c ON a.i = c.i AND c.vec_id <> a.anchor_id
        |      GROUP BY 1, 2),
        |h AS (SELECT anchor_id, cand_id, dot,
        |        CAST(concat('0x', substr(md5(anchor_id || ':' || cand_id), 1, 15)) AS BIGINT) AS hh
        |      FROM d),
        |pos AS (SELECT anchor_id, cand_id AS pos_id, dot AS pos_dot,
        |          row_number() OVER (PARTITION BY anchor_id ORDER BY dot DESC, cand_id) AS rn
        |        FROM h),
        |neg AS (SELECT anchor_id, cand_id AS neg_id, dot AS neg_dot,
        |          row_number() OVER (PARTITION BY anchor_id ORDER BY hh, cand_id) AS rn
        |        FROM h)
        |SELECT p.anchor_id, p.pos_id, p.pos_dot, n.neg_id, n.neg_dot
        |FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id AND p.rn = 1 AND n.rn = 1""".stripMargin,
    // stride-48 windows of 64 tokens; the last chunk may be short. md5
    // fingerprints make the whole chunking hash-checkable
    "q_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, ws, n,
        |    unnest(generate_series(0,
        |      CASE WHEN n <= 64 THEN 0 ELSE CAST(FLOOR((n - 64 + 47) / 48) AS INT) END)) AS i
        |  FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(LEAST(64, n - i * 48) AS BIGINT) AS chunk_tokens,
        |  md5(array_to_string(list_slice(ws, i * 48 + 1, i * 48 + 64), ' ')) AS chunk_md5
        |FROM c""".stripMargin,

    "q_inverted_index" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |p AS (SELECT term, doc_id % 16 AS shard, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |      FROM t GROUP BY 1, 2, 3),
        |g AS (SELECT term, shard, doc_id, tf,
        |        doc_id - lag(doc_id) OVER (PARTITION BY term, shard ORDER BY doc_id) AS gap,
        |        row_number() OVER (PARTITION BY term, shard ORDER BY tf DESC, doc_id) AS rn
        |      FROM p)
        |SELECT term, shard, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap,
        |  CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS top_doc
        |FROM g GROUP BY term, shard""".stripMargin,

    "q_skipgram_pairs" ->
      """WITH tk AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |pos AS (SELECT ws, unnest(generate_series(1, len(ws))) AS i FROM tk),
        |pr AS (SELECT ws[CAST(i AS INT)] AS center, ws[CAST(i + d.d AS INT)] AS context
        |       FROM pos, (SELECT unnest([1, 2]) AS d) d
        |       WHERE i + d.d <= len(ws))
        |SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pr GROUP BY center, context""".stripMargin,

    "q_curation_e2e" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |gq AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
        |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_word_len,
        |  CAST(len(list_filter(w, x -> NOT regexp_matches(x, '^[a-z]+$'))) AS BIGINT) AS n_nonalpha,
        |  CAST(len(list_filter(w, x -> list_contains(
        |    ['the','a','and','of','to','in','is','that'], x))) AS BIGINT) AS n_stop
        |FROM ws),
        |pass AS (SELECT doc_id FROM gq
        |  WHERE n_tok >= 10 AND n_tok <= 100000
        |    AND sum_word_len >= n_tok * 2 AND sum_word_len <= n_tok * 12
        |    AND n_nonalpha * 5 <= n_tok AND n_stop >= 2),
        |gd AS (SELECT d.* FROM documents d JOIN pass USING (doc_id)),
        |keep AS (SELECT MIN(doc_id) AS doc_id FROM gd GROUP BY md5(text)),
        |kd AS (SELECT gd.* FROM gd JOIN keep USING (doc_id)),
        |g AS (SELECT DISTINCT doc_id,
        |  w[CAST(pos AS INT)] || ' ' || w[CAST(pos AS INT) + 1] || ' ' ||
        |  w[CAST(pos AS INT) + 2] || ' ' || w[CAST(pos AS INT) + 3] AS gram
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 3)) AS pos FROM ws)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 29 = 0),
        |flag AS (SELECT DISTINCT g.doc_id FROM g
        |         JOIN kd USING (doc_id) JOIN ev USING (gram)
        |         WHERE g.doc_id % 29 <> 0),
        |cc AS (SELECT * FROM kd WHERE doc_id % 29 <> 0
        |       AND doc_id NOT IN (SELECT doc_id FROM flag)),
        |t AS (SELECT doc_id, source, n_chars,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM cc),
        |c AS (SELECT *, CAST(SUM(n_tok) OVER (PARTITION BY source
        |        ORDER BY n_chars DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok FROM t)
        |SELECT doc_id, source, n_tok, cum_tok FROM c WHERE cum_tok <= 800""".stripMargin,

    "q_substring_dedup" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |        md5(array_to_string(w[CAST(pos AS INT):(CAST(pos AS INT) + 11)], ' ')) AS h
        |      FROM (SELECT doc_id, w,
        |              unnest(generate_series(1, len(w) - 11)) AS pos FROM ws)),
        |dup AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df
        |                       FROM g GROUP BY h) WHERE df >= 2),
        |hits AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
        |nd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows FROM hits GROUP BY doc_id),
        |cov AS (SELECT doc_id, CAST(COUNT(DISTINCT t) AS BIGINT) AS n_covered_tokens FROM
        |         (SELECT doc_id, unnest(generate_series(pos, pos + 11)) AS t FROM hits)
        |        GROUP BY doc_id),
        |nw AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
        |         CAST(GREATEST(len(w) - 11, 0) AS BIGINT) AS n_windows FROM ws)
        |SELECT nw.doc_id, nw.n_tok, nw.n_windows,
        |  COALESCE(nd.n_dup_windows, 0) AS n_dup_windows,
        |  COALESCE(cov.n_covered_tokens, 0) AS n_covered_tokens
        |FROM nw LEFT JOIN nd USING (doc_id) LEFT JOIN cov USING (doc_id)""".stripMargin,

    // temperature-mixture weights: exact integer isqrt (float floor,
    // ±1 correction), ppm shares by integer division — bit-exact replay
    "q_mix_weights" ->
      """WITH t AS (SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |s0 AS (SELECT *, CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE))) AS BIGINT) AS r0 FROM t),
        |w AS (SELECT source, n_docs, tokens,
        |  r0 + (CASE WHEN (r0 + 1) * (r0 + 1) <= tokens THEN 1 ELSE 0 END)
        |     - (CASE WHEN r0 * r0 > tokens THEN 1 ELSE 0 END) AS weight
        |  FROM s0),
        |tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS wsum FROM w),
        |m AS (SELECT w.*, (weight * 1000000) // wsum AS mix_ppm FROM w, tot),
        |e AS (SELECT *, (20000 * mix_ppm) // 1000000 AS expected_tokens FROM m)
        |SELECT source, n_docs, tokens, weight, mix_ppm, expected_tokens,
        |  LEAST(1000000, (expected_tokens * 1000000) // tokens) AS sample_rate_ppm
        |FROM e""".stripMargin,

    "q_token_budget" ->
      """WITH t AS (SELECT doc_id, source, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT *, CAST(SUM(n_tok) OVER (PARTITION BY source
        |        ORDER BY n_chars DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok FROM t)
        |SELECT doc_id, source, n_tok, cum_tok FROM c WHERE cum_tok <= 800""".stripMargin,

    "q_decontaminate" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |  w[CAST(pos AS INT)] || ' ' || w[CAST(pos AS INT) + 1] || ' ' ||
        |  w[CAST(pos AS INT) + 2] || ' ' || w[CAST(pos AS INT) + 3] AS gram
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 3)) AS pos FROM ws)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 29 = 0)
        |SELECT doc_id, COUNT(*) AS n_hit_grams
        |FROM g JOIN ev USING (gram)
        |WHERE doc_id % 29 <> 0
        |GROUP BY doc_id""".stripMargin,

    "q_repetition" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |         CAST(COUNT(*) AS BIGINT) AS n_distinct_tok,
        |         CAST(MAX(c) AS BIGINT) AS top_tok_n
        |       FROM (SELECT doc_id, t, COUNT(*) AS c FROM
        |               (SELECT doc_id, unnest(w) AS t FROM ws)
        |             GROUP BY doc_id, t)
        |       GROUP BY doc_id),
        |tri AS (SELECT doc_id,
        |  w[CAST(pos AS INT)] || ' ' || w[CAST(pos AS INT) + 1] || ' ' ||
        |  w[CAST(pos AS INT) + 2] AS g
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS pos FROM ws)),
        |trc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
        |          CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_tri
        |        FROM tri GROUP BY doc_id)
        |SELECT tc.doc_id, n_tok, n_distinct_tok, top_tok_n,
        |  COALESCE(n_tri, 0) AS n_tri, COALESCE(n_distinct_tri, 0) AS n_distinct_tri,
        |  top_tok_n * 5 > n_tok AS repetitious
        |FROM tc LEFT JOIN trc ON tc.doc_id = trc.doc_id""".stripMargin,

    "q_domain_mix" ->
      """SELECT doc_id, source FROM documents
        |WHERE strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1
        |      < (CAST(substr(source, 4) AS INT) % 4 + 1) * 4""".stripMargin,

    "q_bm25" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |  CAST(len(list_filter(w, x -> x = 'spark')) AS BIGINT) AS tf_spark,
        |  CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf_join,
        |  CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf_window
        |  FROM ws),
        |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_tok,
        |  SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
        |  SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
        |  SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
        |  FROM d)
        |SELECT doc_id, tf_spark, tf_join, tf_window,
        |  CAST(ROUND((
        |    ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
        |      * (tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75 * dl * n_docs / tot_tok)) +
        |    ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
        |      * (tf_join * 2.2) / (tf_join + 1.2 * (0.25 + 0.75 * dl * n_docs / tot_tok)) +
        |    ln((n_docs - df_window + 0.5) / (df_window + 0.5) + 1.0)
        |      * (tf_window * 2.2) / (tf_window + 1.2 * (0.25 + 0.75 * dl * n_docs / tot_tok))
        |  ) * 1000) AS BIGINT) AS score_milli
        |FROM d, st
        |ORDER BY score_milli DESC, doc_id LIMIT 15""".stripMargin,

    "q_semdedup_prune" -> (QueriesExtra.embedCompCte +
      """
        |SELECT e.vec_id, e.label FROM embeddings e
        |LEFT JOIN comp c ON c.vec_id = e.vec_id AND c.vec_id <> c.component
        |WHERE c.vec_id IS NULL""".stripMargin),

    "q_line_dedup" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |         array_to_string(w[(CAST(i AS INT)*8+1):(CAST(i AS INT)*8+8)], ' ') AS chunk
        |       FROM (SELECT doc_id, w,
        |               unnest(generate_series(0, (len(w)-1)//8)) AS i FROM ws)),
        |bo AS (SELECT chunk FROM (SELECT chunk, COUNT(DISTINCT doc_id) AS df
        |                          FROM ch GROUP BY chunk) WHERE df >= 5),
        |kept AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |           string_agg(chunk, ' ' ORDER BY idx) AS clean_text
        |         FROM ch ANTI JOIN bo USING (chunk) GROUP BY doc_id),
        |nc AS (SELECT doc_id, CAST((len(w)-1)//8 + 1 AS BIGINT) AS n_chunks FROM ws)
        |SELECT n.doc_id, n.n_chunks,
        |  COALESCE(k.n_kept, 0) AS n_kept, COALESCE(k.clean_text, '') AS clean_text
        |FROM nc n LEFT JOIN kept k USING (doc_id)""".stripMargin,

    "q_gopher_rules" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
        |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_word_len,
        |  CAST(len(list_filter(w, x -> NOT regexp_matches(x, '^[a-z]+$'))) AS BIGINT) AS n_nonalpha,
        |  CAST(len(list_filter(w, x -> list_contains(
        |    ['the','a','and','of','to','in','is','that'], x))) AS BIGINT) AS n_stop
        |FROM ws)
        |SELECT doc_id, n_tok, sum_word_len, n_nonalpha, n_stop,
        |  n_tok >= 10 AND n_tok <= 100000 AS ok_len,
        |  sum_word_len >= n_tok * 2 AND sum_word_len <= n_tok * 12 AS ok_word_len,
        |  n_nonalpha * 5 <= n_tok AS ok_alpha,
        |  n_stop >= 2 AS ok_stop,
        |  (n_tok >= 10 AND n_tok <= 100000)
        |    AND (sum_word_len >= n_tok * 2 AND sum_word_len <= n_tok * 12)
        |    AND n_nonalpha * 5 <= n_tok AND n_stop >= 2 AS pass
        |FROM t""".stripMargin,

    "q_ngram_lm" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |        w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS gram
        |      FROM (SELECT doc_id, w,
        |              unnest(generate_series(1, len(w) - 1)) AS i FROM ws)),
        |pc AS (SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY doc_id, gram),
        |m AS (SELECT gram, COUNT(*) AS c2 FROM g GROUP BY gram),
        |m2 AS (SELECT gram, c2, string_split(gram, ' ')[1] AS w1 FROM m),
        |p AS (SELECT w1, SUM(c2) AS c1 FROM m2 GROUP BY w1),
        |j AS (SELECT pc.doc_id, pc.n, m2.c2, p.c1
        |      FROM pc JOIN m2 USING (gram) JOIN p USING (w1))
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |  CAST(MIN(c2) AS BIGINT) AS rarest_freq,
        |  CAST(SUM(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
        |  CAST(ROUND(SUM(-ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) * n)
        |             / SUM(n) * 1000) AS BIGINT) AS surprisal_milli
        |FROM j GROUP BY doc_id""".stripMargin)
}

/** Holder for the trained IVF coarse centroids behind q_contrastive_ivf,
  * keyed by the data dir string the query ran on, so its DuckDB oracle
  * can be emitted with the SAME milli-quantized centroid literals the
  * Spark side assigned cells with (the [[graft.analytics.PcaModels]]
  * pattern: Verify runs the query — which trains and stashes — before
  * dumping `SparkEntry.oracleSql(sfDir)`).
  * All arithmetic downstream of the literals is BIGINT on both engines.
  */
object ContrastiveIvfOracle {
  /** Recall floor (mills) for the IVF probe path vs the brute positive.
    * Measured at nprobe 4 of 8 cells: sf0.01 = 1000, sf0.1 = 825,
    * sf1 = 945 (the floor RISES at 10× — same effect as q_ann_recall's
    * ladder: a denser corpus puts the hardest positive in a nearer
    * cell). 750 sits safely under every measured SF while failing a
    * degraded probe list (nprobe 3 measures 700 at sf0.1).
    */
  val FloorMills: Long = 750L

  val stash = new java.util.concurrent.ConcurrentHashMap[String, IndexedSeq[IndexedSeq[Long]]]()

  def oracleEntries(dir: String): Map[String, String] = Option(stash.get(dir)) match {
    case None => Map.empty
    case Some(cents) =>
      val values = cents.zipWithIndex
        .map { case (c, i) => s"($i, ${c.mkString("[", ", ", "]")})" }
        .mkString(",\n    ")
      Map("q_contrastive_ivf" ->
        s"""WITH q AS (
           |  SELECT vec_id, g.i,
           |    CAST(ROUND(CAST(embedding[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS qv
           |  FROM embeddings, generate_series(1, 64) g(i)),
           |cents(cid, c) AS (VALUES
           |    $values),
           |cl AS (SELECT cid, g.i, c[CAST(g.i AS INT)] AS cv
           |       FROM cents, generate_series(1, 64) g(i)),
           |d AS (SELECT q.vec_id, cl.cid,
           |        CAST(SUM((q.qv - cl.cv) * (q.qv - cl.cv)) AS BIGINT) AS d2
           |      FROM q JOIN cl ON q.i = cl.i GROUP BY 1, 2),
           |r AS (SELECT vec_id, cid,
           |        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
           |      FROM d),
           |cell AS (SELECT vec_id, cid AS cell FROM r WHERE rn = 1),
           |probes AS (SELECT vec_id AS anchor_id, cid AS cell FROM r
           |           WHERE vec_id % 50 = 0 AND rn <= 4),
           |cand AS (SELECT p.anchor_id, c.vec_id AS cand_id
           |         FROM probes p JOIN cell c USING (cell)
           |         WHERE c.vec_id <> p.anchor_id),
           |pd AS (SELECT cd.anchor_id, cd.cand_id,
           |         CAST(SUM(a.qv * c.qv) AS BIGINT) AS dot
           |       FROM cand cd
           |       JOIN q a ON a.vec_id = cd.anchor_id
           |       JOIN q c ON c.vec_id = cd.cand_id AND c.i = a.i
           |       GROUP BY 1, 2),
           |h AS (SELECT anchor_id, cand_id, dot,
           |        CAST(concat('0x', substr(md5(anchor_id || ':' || cand_id), 1, 15)) AS BIGINT) AS hh
           |      FROM pd),
           |pos AS (SELECT anchor_id, cand_id AS pos_id, dot AS pos_dot,
           |          row_number() OVER (PARTITION BY anchor_id ORDER BY dot DESC, cand_id) AS rn
           |        FROM h),
           |neg AS (SELECT anchor_id, cand_id AS neg_id, dot AS neg_dot,
           |          row_number() OVER (PARTITION BY anchor_id ORDER BY hh, cand_id) AS rn
           |        FROM h),
           |bdots AS (SELECT a.vec_id AS anchor_id, c.vec_id AS cand_id,
           |            CAST(SUM(a.qv * c.qv) AS BIGINT) AS dot
           |          FROM q a JOIN q c ON a.i = c.i AND c.vec_id <> a.vec_id
           |          WHERE a.vec_id % 50 = 0 GROUP BY 1, 2),
           |bd AS (SELECT anchor_id, MAX(dot) AS brute_dot FROM bdots GROUP BY 1),
           |sel AS (SELECT p.anchor_id, p.pos_id, p.pos_dot, n.neg_id, n.neg_dot,
           |          b.brute_dot,
           |          CASE WHEN p.pos_dot = b.brute_dot THEN CAST(1 AS BIGINT)
           |               ELSE CAST(0 AS BIGINT) END AS hit
           |        FROM pos p
           |        JOIN neg n ON n.anchor_id = p.anchor_id AND n.rn = 1
           |        JOIN bd b ON b.anchor_id = p.anchor_id
           |        WHERE p.rn = 1)
           |SELECT sel.*, st.mean_mills,
           |  CAST($FloorMills AS BIGINT) AS floor_mills,
           |  st.mean_mills >= $FloorMills AS floor_ok
           |FROM sel, (SELECT CAST(SUM(hit) * 1000 // COUNT(*) AS BIGINT) AS mean_mills
           |           FROM sel) st""".stripMargin)
  }
}

/** Holder for the BPE merge list trained by [[QueriesTraining.bpeTokenize]]
  * and [[QueriesTraining.tokenizeApply]], keyed by the data dir string
  * the query ran on — the [[graft.analytics.PcaModels]] dynamic-oracle
  * pattern: Verify runs the query (which trains and stashes) before
  * dumping `SparkEntry.oracleSql(sfDir)`, so the DuckDB oracle replays the
  * IDENTICAL merges as a literal replace chain (two sweeps per merge,
  * the same deterministic apply contract as the Spark side).
  */
object BpeOracle {
  val stash = new java.util.concurrent.ConcurrentHashMap[String, List[(String, String)]]()

  def oracleEntries(dir: String): Map[String, String] = Option(stash.get(dir)) match {
    case None => Map.empty
    case Some(merges) =>
      val chain = merges.foldLeft(
        "concat(regexp_replace(w, '(.)', '|\\1', 'g'), '$|')") {
        case (acc, (x, y)) =>
          s"replace(replace($acc, '|$x|$y|', '|$x$y|'), '|$x|$y|', '|$x$y|')"
      }
      Map("q_bpe_tokenize" ->
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
           |tc AS (SELECT doc_id, w, COUNT(*) AS n FROM tok GROUP BY doc_id, w),
           |vocab AS (SELECT DISTINCT w FROM tok),
           |vr AS (SELECT w, $chain AS seq FROM vocab),
           |vs AS (SELECT w, CAST(length(seq) - length(replace(seq, '|', '')) - 1 AS BIGINT) AS n_sub FROM vr),
           |d AS (SELECT tc.doc_id,
           |        CAST(SUM(tc.n) AS BIGINT) AS n_words,
           |        CAST(SUM(tc.n * length(tc.w)) AS BIGINT) AS n_chars,
           |        CAST(SUM(tc.n * vs.n_sub) AS BIGINT) AS n_bpe
           |      FROM tc JOIN vs ON vs.w = tc.w GROUP BY tc.doc_id)
           |SELECT doc_id, n_words, n_chars, n_bpe,
           |  CAST(n_chars * 1000 // n_bpe AS BIGINT) AS chars_per_tok_milli
           |FROM d""".stripMargin,
        "q_tokenize_apply" ->
        s"""WITH tok AS (SELECT doc_id,
           |        unnest(string_split(text, ' ')) AS w,
           |        unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
           |      FROM documents),
           |vocab AS (SELECT DISTINCT w FROM tok),
           |vr AS (SELECT w, $chain AS seq FROM vocab),
           |vsyms AS (SELECT w,
           |        unnest(list_filter(string_split(seq, '|'), x -> len(x) > 0)) AS s,
           |        unnest(generate_series(1,
           |          len(list_filter(string_split(seq, '|'), x -> len(x) > 0)))) AS p
           |      FROM vr),
           |sid AS (SELECT s, CAST(row_number() OVER (ORDER BY s) AS BIGINT) AS id
           |        FROM (SELECT DISTINCT s FROM vsyms)),
           |wids AS (SELECT w, string_agg(CAST(id AS VARCHAR), ' ' ORDER BY p) AS ids_str,
           |               COUNT(*) AS n_sub
           |         FROM vsyms JOIN sid USING (s) GROUP BY w)
           |SELECT tok.doc_id,
           |  CAST(SUM(wids.n_sub) AS BIGINT) AS n_tok,
           |  string_agg(wids.ids_str, ' ' ORDER BY tok.pos) AS ids
           |FROM tok JOIN wids USING (w) GROUP BY tok.doc_id""".stripMargin)
  }
}
