package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Gates._
import Vectors._

/** The LLM-training-data pipeline surface (BASELINE north star): text
  * analysis, document fingerprinting, exact/fuzzy deduplication, and
  * embedding similarity over the `documents` / `embeddings` tables.
  *
  * The reference has none of this (it is a converter); each operator here
  * is designed Spark-first for the 100 TB case and then, where the
  * semantics are SQL-expressible, hash-verified against DuckDB:
  *
  *   - Candidate generation is always BLOCKED (shingle join / LSH bands /
  *     normalized-component buckets), never an O(n²) cross join, so the
  *     shuffle volume scales with Σ bucket² rather than corpus².
  *   - Fuzzy-dedup queries run on a corpus with PLANTED duplicates (each
  *     doc unioned with a truncated/scaled copy at doc_id+10000) so recall
  *     is deterministic and the oracle can assert exact pair sets.
  *   - Double arithmetic is ordered identically on both engines (index-
  *     order folds) and thresholds compare rounded values, so hashes match
  *     bit-for-bit.
  */
object LlmQueries extends QueryModule {

  // ---- shared text fragments (kept in sync with the DuckDB oracles) ------

  /** Whitespace class for every engine-side tokenizer/normalizer,
    * written as the EXPLICIT character class equal to RE2's \s: Java's
    * \s additionally matches vertical tab \x0B, so a VT in a document
    * tokenized differently on the engine than in the DuckDB (RE2)
    * oracles' string_split_regex('\s+') — r14 review; latent on the
    * synthetic corpus, which carries no VT. The engine adopts RE2's
    * class so the two sides are equal by construction. */
  // doubly escaped: the SQL string-literal layer unescapes once
  // (leaving \t \n \f \r as REGEX escapes for the Java engine) — a
  // singly-escaped class had its \f/\r eaten by the SQL unescape,
  // silently making 'f' and 'r' whitespace (caught at the q44 gate)
  private[graft] val WsClass = "[ \\\\t\\\\n\\\\f\\\\r]"
  /** whitespace-normalized lowercase text */
  private[operators] val normSql =
    s"lower(trim(regexp_replace(text, '$WsClass+', ' ')))"
  /** whitespace tokens. IMPORTANT: never inline this inside an array
    * lambda — the regex split would re-run per element (O(tokens²) per
    * document; measured 49s -> 2s at sf0.1 when materialized once). Project
    * it to a `tk` column first via [[withTokens]]. */
  private[graft] val toksSql = s"split(trim(text), '$WsClass+')"
  private[operators] def withTokens(df: DataFrame): DataFrame =
    df.withColumn("tk", expr(toksSql))

  /** q31's marker-stopword language predictor, factored so the q236
    * declared-vs-detected confusion audit shares the exact chain it
    * evaluates. Keeps every input column, adds `guess`. */
  private[graft] def langGuess(docs: DataFrame): DataFrame =
    withTokens(docs)
      .withColumn("sc_en",
        expr("size(filter(tk, t -> t IN ('the', 'a', 'and', 'of', 'is')))"))
      .withColumn("sc_de",
        expr("size(filter(tk, t -> t IN ('der', 'die', 'das', 'und', 'ist')))"))
      .withColumn("sc_fr",
        expr("size(filter(tk, t -> t IN ('le', 'la', 'et', 'les', 'est')))"))
      .withColumn("sc_es",
        expr("size(filter(tk, t -> t IN ('el', 'la', 'y', 'los', 'es')))"))
      .withColumn("guess",
        when(col("sc_de") > col("sc_en"), "de")
          .when(col("sc_fr") > col("sc_en"), "fr")
          .when(col("sc_es") > col("sc_en"), "es")
          .otherwise("en"))
      .drop("tk", "sc_en", "sc_de", "sc_fr", "sc_es")
  /** Distinct word 3-shingles of a tokens column — built from array-level
    * slices fused with zip_with, NOT a positional lambda: CollapseProject
    * re-inlines upstream projections into lambdas, so an
    * `element_at(tk, i)` formulation re-evaluates the regex split once per
    * ELEMENT after optimization (measured 49s at sf0.1); slices evaluate
    * their (possibly re-inlined) input once per ROW. */
  private[operators] def shinglesSql(t: String): String =
    s"array_distinct(CASE WHEN size($t) >= 3 THEN " +
    s"zip_with(zip_with(slice($t, 1, size($t) - 2), slice($t, 2, size($t) - 2), " +
    s"(x, y) -> concat(x, ' ', y)), slice($t, 3, size($t) - 2), " +
    s"(xy, z) -> concat(xy, ' ', z)) ELSE array() END)"
  /** (doc_id, sz, hs): one row per document with the ARRAY of hashed
    * distinct shingles (64-bit keys shuffle ~10x cheaper than shingle
    * strings) — the tokenize->shingle stage materialized ONCE per query
    * and threaded explicitly to every consumer.
    * Materialized (localCheckpoint): it is one row per doc (~100x smaller
    * than the exploded index, the thing you would checkpoint durably on a
    * cluster), it has 3+ consumers in MinHash (signatures + both
    * verification sides), and the LogicalRDD cut is also the optimization
    * barrier that stops CollapseProject re-inlining the tokenize->shingle
    * pipeline into every downstream signature lambda (16x recompute
    * otherwise). */
  private[operators] def shingleSets(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "shingle_sets") { shingleSetsBuild(s, dir) }

  private def shingleSetsBuild(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s) // fnv64
    // spread BEFORE the tokenize/shingle/hash/sort projection
    // (r16, the tokenSets convention): the exchange used to sit at the
    // END of the build — it fixed the materialized layout but left the
    // whole heavy projection running inside the single-file scan task.
    // Moving it first spreads the compute AND yields the same spread
    // checkpoint layout (narrow projections preserve partitioning).
    // Scan-split-gated (r17): no exchange once the source has splits.
    withTokens(spreadScan(plantedNear(s, dir)))
      .select(col("doc_id"), expr(shinglesSql("tk")).as("sh"))
      .filter(size(col("sh")) > 0)
      // fnv64 (the engine's own codegen'd FNV-1a), NOT Spark's xxhash64:
      // the key choice is engine-independent, so the DuckDB oracle can
      // recompute the very same 64-bit keys (q151's full row-level
      // oracle needs the minhash inputs, not just intersection counts)
      // and results stay stable across Spark versions
      // array_sort: hs is SORTED ASCENDING once per doc at build — the
      // [[exactJaccardOf]]/[[dupRelations]] merge-scan verify contract
      // (sorted_intersect_count), so no per-pair hash set is ever built.
      // Everything else reading hs is order-free (explode, array_min).
      .select(col("doc_id"), size(col("sh")).as("sz"),
        expr("array_sort(transform(sh, x -> fnv64(x)))").as("hs"))
      // (the repartition now sits ABOVE the projection — see the build
      // head; the materialized layout is spread either way)
      // localCheckpoint, not persist: the blocks die with the frame via
      // ContextCleaner instead of sitting in the CacheManager for the
      // session's lifetime (the r7 in-suite poisoning mechanism). The
      // multi-consumer queries (q35: exact truth + LSH pipeline) thread
      // THIS frame explicitly instead of relying on the CacheManager's
      // structural plan matching to dedupe a second build.
      .localCheckpoint()
  }

  /** 16 fixed MinHash seeds (splitmix64 stream from 42): the family is
    * mh_j(h) = mix64(h ^ seed_j) — fmix64's full avalanche makes each j
    * an independent near-uniform permutation of the shingle-key space
    * (FNV alone mixes too weakly for min-order statistics). The same
    * constants are interpolated into the q151 oracle SQL, so engine and
    * oracle share one source of truth. */
  private[graft] val MinhashSeeds: IndexedSeq[Long] = {
    var x = 42L
    (0 until 16).map { _ =>
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
  }

  /** Document-frequency cap for fuzzy-dedup candidate generation. A
    * stop-shingle shared by df documents contributes df² candidate pairs,
    * so one natural-language boilerplate phrase with df=10⁵ alone makes
    * 10¹⁰ pairs — the skew bomb that kills an uncapped inverted-index
    * self-join at 100 TB. The cap is a predicate on the prefix index
    * ([[prefixIndex]]): rows with df > cap are dropped, so every index
    * bucket holds at most cap rows, while the verify (merge scan over
    * the full per-doc key arrays, hot keys included) keeps reported
    * Jaccard scores exact. A pair is then found iff it passes the
    * threshold AND shares >= 1 key with df <= cap — its first common key
    * in the (df, h) prefix order has the smallest df of its shared keys
    * and lies in both prefixes. A true near-dup pair (jac >= 0.5) shares
    * ~a third of its shingles, so it is missed only if ALL of them are
    * corpus-wide boilerplate — at that point the pair is boilerplate,
    * not a near-duplicate. The q34/q35/q59 DuckDB oracles REPLICATE the
    * cap (`MIN(df) <= 256` on each pair's shared shingles), which is
    * exactly this predicate, so a cap-active corpus cannot silently
    * diverge from the gate. Measured max df on the harness corpora: 14
    * at sf0.01, 49 at sf0.1 — the cap is inactive there; ScaleSpec and
    * LlmSpec pin the capped pair set against brute force under an
    * ACTIVE cap. */
  private[graft] val ShingleDfCap = 256

  /** Band-bucket df cap for [[ahashNearDupPairs]] — the [[ShingleDfCap]]
    * of image banding. Average-hashes are NOT uniform bits: natural
    * images are spatially smooth, so a band can be near-constant across
    * the corpus (measured: one 16-bit band value shared by ALL docs of
    * the synthetic gradient corpus — a C(n,2) candidate bomb, 185 s at
    * sf0.1 before the cap, 1.5 s after). Bands whose bucket exceeds the
    * cap generate no candidates; a pair is lost only if EVERY band it
    * agrees on is that hot — for exact dups that means >cap docs share
    * all four bands (a degenerate all-identical corpus). As with the
    * shingle cap, the DuckDB oracle replicates this cap, so both engines
    * share the capped semantics at every scale factor — and cap < the
    * sf0.01 doc count means the driver gate exercises it. */
  private[graft] val BandDfCap = 256

  /** (doc_a, doc_b, hamming <= 3) near-duplicate pairs from a
    * (doc_id, ahash) frame of 64-char bit strings. Candidates come only
    * from 16-bit band-value collisions in buckets of <= cap docs (never
    * all pairs); the 4-band union deduplicates through a per-pair
    * aggregate (partial-agg'd map-side — skew-safe where a per-band
    * window would funnel a hot bucket through one task); the exact
    * Hamming distance is q36's codegen'd bit_count(xor) on hashes packed
    * ONCE per doc into a signed BIGINT (conv base 2 -> -10; the sign bit
    * is just bit 63 to xor) — the first cut's per-pair 64-substring
    * lambda was 20 s at sf0.1, and 8-byte longs through the join also
    * shrink the candidate shuffle ~8x vs carrying the strings. The
    * bucket-count relation is bounded by distinct (band, value) pairs —
    * vocabulary-sized — so its semi-join shuffles and AQE broadcasts it
    * when small. */
  private[graft] def ahashNearDupPairs(hashed: DataFrame, cap: Int): DataFrame = {
    val bands = hashed
      .withColumn("hl", expr("CAST(conv(ahash, 2, -10) AS BIGINT)"))
      .select(col("doc_id"), col("hl"),
        explode(expr("transform(sequence(0, 3)," +
          " b -> named_struct('band', b, 'bv', substring(ahash, b * 16 + 1, 16)))"))
          .as("tb"))
      .select(col("doc_id"), col("hl"),
        col("tb.band").as("band"), col("tb.bv").as("bv"))
    val cold = bands.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("bc")).filter(col("bc") <= cap)
      .select(col("band"), col("bv"))
    val capped = bands.join(cold, Seq("band", "bv"), "left_semi")
    val a = capped.select(col("doc_id").as("doc_a"),
      col("hl").as("hl_a"), col("band"), col("bv"))
    val b = capped.select(col("doc_id").as("doc_b"),
      col("hl").as("hl_b"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("hl_a")).as("hl_a"), min(col("hl_b")).as("hl_b"))
      .withColumn("hamming",
        bit_count(col("hl_a").bitwiseXOR(col("hl_b"))).cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Exact Jaccard >= `minJac` for a BLOCKED candidate-pair frame (LSH
    * band collisions): two hash joins of the
    * candidate set against the one-row-per-doc shingle cache,
    * intersection via the codegen'd zero-allocation merge scan
    * (sorted_intersect_count — q161's measurement: 38 µs/pair for
    * array_intersect's per-row hash set vs a linear two-pointer walk).
    * CONTRACT: `hs` must be DISTINCT and SORTED ASCENDING — every
    * builder sorts once per doc at build ([[shingleSetsBuild]]), so
    * |intersection| IS the shingle-overlap count and scores are
    * exact regardless of how candidates were generated. The joins are
    * NOT broadcast-hinted: blocked is not small — a dupe-heavy 100 TB
    * corpus's band survivors are billions of pairs, past any broadcast
    * limit. Both joins are plain doc_id equi-joins, so they shuffle,
    * and AQE converts to broadcast at runtime whenever the measured
    * candidate set actually is small (every harness corpus). */
  private[graft] def exactJaccardOf(docsets: DataFrame, cand: DataFrame,
      minJac: Double): DataFrame = {
    graft.functions.GraftFunctions.register(docsets.sparkSession)
    val a = docsets.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
      col("hs").as("hs_a"))
    val b = docsets.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
      col("hs").as("hs_b"))
    cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("inter", expr("sorted_intersect_count(hs_a, hs_b)"))
      .withColumn("jac", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jac") >= minJac)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** PPJoin-style prefix-filtered token-set similarity join — the one
    * exact set-similarity join: q161 (bigrams, t=0.8, no cap), the
    * `ngram_pairs` stage behind q34 and its consumers ([[ngramJaccardPairs]]:
    * trigrams, t=0.5, [[ShingleDfCap]]) and q250's intra-batch pairs.
    *
    * Every token key gets a global rarity rank (ascending document
    * frequency, ties by key); a document with sz distinct tokens indexes
    * only its sz - ceil(t*sz) + 1 RAREST tokens (its "prefix").
    * Completeness: jac >= t forces overlap >= ceil(t*max(sz_a, sz_b)),
    * and an overlap that large cannot hide entirely inside both suffixes
    * (each suffix holds only ceil(t*sz) - 1 tokens, strictly fewer than
    * the required overlap), so under one shared global order the pair
    * shares at least one token both docs put in their prefixes (the
    * prefix-filter theorem; see the PPJoin family of set-similarity
    * joins). No recall knob — exact recall by construction.
    *
    * Optional df cap: index rows with df > cap are dropped AFTER the
    * rank filter (sz and rn still count every key, so the prefixes and
    * the positional filter are unchanged). A pair's first common key in
    * the (df, h) order is in both prefixes and has the smallest df of
    * its shared keys, so with a cap the output is exactly the pairs with
    * jac >= t that share >= 1 key with df <= cap — the oracles'
    * `MIN(df) <= cap` — and every index bucket holds at most cap rows.
    *
    * Scale: candidate volume is Σ df² over PREFIX occurrences only, and
    * prefixes hold each doc's rarest tokens — the hot boilerplate tokens
    * that detonate a naive token self-join sort to the suffix and never
    * enter the index. The length filter (10*min >= t10*max, a jac>=t necessity)
    * prunes before the verify join. Three shuffles, all uniform: token
    * df agg (keyed by 64-bit token hash), per-doc rank (keyed by doc_id;
    * window partitions bounded by doc length, never corpus-sized), and
    * the prefix self-join (keyed by token hash). A group of n IDENTICAL
    * docs still yields n² candidates — but those pairs ARE the answer
    * (all true duplicates): intrinsic output size, not join blow-up, and
    * a production pipeline runs exact dedup (q33) first to collapse them.
    *
    * In: (doc_id, hk: array<long> distinct token keys, sz = size(hk)).
    * Out: (doc_a, doc_b, n_shared, jac) for jac >= t10/10; overlap is
    * exact on the full key arrays (same verify shape as
    * [[exactJaccardOf]]), and the threshold gate is the integer
    * cross-multiplication 10*inter >= t10*union — no float compare
    * decides a boundary pair. */
  private[graft] def prefixIndex(sets: DataFrame, t10: Int,
      cap: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = sets.select(col("doc_id"), col("sz"), explode(col("hk")).as("h"))
    val dfreq = toks.groupBy("h").agg(count(lit(1)).as("df"))
    // integer ceil(t*sz) = (sz*t10 + 9) DIV 10 — float-free on both engines
    val pref = toks.join(dfreq, "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("h"))))
      .filter(col("rn") <= col("sz") - expr(s"(sz * $t10 + 9) DIV 10") + lit(1))
    // the cap drops rows AFTER the rank: rn and sz still count every key
    cap.fold(pref)(c => pref.filter(col("df") <= c))
      .select(col("doc_id"), col("sz"), col("h"), col("rn"))
  }

  private[graft] def prefixFilterPairs(sets: DataFrame, t10: Int,
      cap: Option[Int] = None): DataFrame = {
    // localCheckpoint (r16): the self-join's two sides each rebuilt the
    // whole index chain (explode -> df agg -> rank window) from the
    // checkpointed sets — ReusedExchange does NOT fire across the
    // aliased sides here (plans/r16/q161_*_before.txt shows the chain
    // twice, ops 1-20 and 21-40). The index is narrow (4 columns,
    // prefix-entry rows ≈ 0.2x token occurrences), so materializing it
    // once costs less than the second build at any scale.
    val pref = prefixIndex(sets, t10, cap).localCheckpoint()
    // Positional filter (the "PP" in PPJoin), applied PER MATCH ROW
    // inside the join: a shared token at ranks (rn_a, rn_b) bounds the
    // pair's overlap by min(sz_a - rn_a, sz_b - rn_b) + 1 ONLY when it
    // is the pair's globally-first common token — but ranks are
    // CO-MONOTONE with the shared global order (u < v implies
    // rn_a(u) < rn_a(v) and rn_b(u) < rn_b(v)), so the bound shrinks
    // monotonically along a pair's matches: if the first common token's
    // bound fails ceil(t*(sz_a+sz_b)/(1+t)), every deeper match fails
    // too, and a surviving pair always retains its first-common row.
    // Filtering raw rows in the join condition is therefore EXACTLY the
    // per-pair first-match filter, evaluated before the distinct's
    // shuffle ever materializes the dropped matches — on a
    // dense-similarity corpus the raw match stream is the dominant
    // shuffle (measured at sf0.1: 5.5M grouped pairs pruned to 2.4M,
    // candidates 25x output without the filter).
    val alpha = s"($t10 * (a.sz + b.sz) + ${10 + t10} - 1) DIV ${10 + t10}"
    // Negative result, documented (r17): a PPJoin+-style GROUP-level
    // suffix bound (k surviving matches + min(sz - rn) at the LAST
    // match >= alpha) was implemented and measured — it kept all
    // 2,433,564 of 2,433,564 sf0.1 candidates, a zero cut, because it
    // is IMPLIED by the per-row positional filter already in the join
    // condition: ranks rise by >= 1 per match on both co-monotone
    // sides, so the k-th surviving row's own bound (1 + min(sz - rn_k)
    // >= alpha) forces the group bound (k + min(sz - rn_k)) to pass.
    // Reverted; the candidate cut has to come from real suffix probes,
    // which at this plan shape (verify = broadcast lookups + early-exit
    // merge scan) would just duplicate the verify.
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * 10 >= col("b.sz") * t10 &&
          col("b.sz") * 10 >= col("a.sz") * t10 &&
          least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")) + 1 >=
            expr(alpha))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val x = sets.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
      col("hk").as("hk_a"))
    val y = sets.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
      col("hk").as("hk_b"))
    // overlap via the codegen'd merge scan (arrays sorted upstream);
    // array_intersect's per-row hash set was the dominant cost at
    // millions of candidates
    // early-exit verify (r16): most candidates fail the threshold, and
    // the full merge scan spends its time proving sub-threshold counts
    // that the filter then discards. The 3-arg form exits with -1 as
    // soon as the running count plus the shorter remaining side cannot
    // reach alpha = ceil(t10*(sz_a+sz_b)/(10+t10)); n >= alpha is
    // algebraically identical to the 10*n >= t10*(union) gate kept
    // below, so passing rows complete the scan and emit the exact
    // n_shared/jac — output unchanged, failing rows ~5-10x cheaper.
    // Dedup AFTER the verify, not before (r17, the prefixProbePairs
    // shape): the old pre-verify distinct() exchanged all 2.43 M
    // candidate pairs (the query's largest shuffle) just so the verify
    // would run once per pair; verifying every match row instead is
    // map-side work over the attached arrays (+17% scans at sf0.1 —
    // match rows are 2.85 M — each early-exited), and the exchange
    // that remains carries only the SURVIVORS (~10 k rows, output-
    // sized). n_shared/jac are functions of the pair, so the 4-column
    // distinct collapses duplicates to the identical row set.
    cand.join(x, Seq("doc_a")).join(y, Seq("doc_b"))
      .withColumn("n_shared", expr("sorted_intersect_atleast(hk_a, hk_b, " +
        s"($t10 * (sz_a + sz_b) + ${10 + t10} - 1) DIV ${10 + t10})"))
      .filter(col("n_shared") * 10 >=
        (col("sz_a") + col("sz_b") - col("n_shared")) * t10)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared") / (col("sz_a") + col("sz_b") - col("n_shared")))
          .as("jac"))
      .distinct()
  }

  /** One-sided prefix-filtered PROBE join: find every corpus document
    * within Jaccard >= t10/10 of each PROBE document — the q161 operator
    * re-shaped for the INGESTION path, where the probe side is a delta
    * batch (or an unbounded stream) and only the CORPUS side carries a
    * prefix index. The probe explodes its FULL key set (no rank, no
    * window — per-row map work only, so the probe side may be a
    * STREAMING frame and the join is the stateless stream-static kind);
    * completeness needs no probe prefix: for a valid pair the overlap
    * i >= ceil(t*(szp+szd)/(1+t)) >= ceil(t*szd) (length filter), so
    * the shared keys cannot all hide in the corpus doc's suffix of size
    * ceil(t*szd)-1 — at least one lands in its index prefix, and for the
    * minimal-rank shared key the positional bound szd - rn + 1 >= i >=
    * alpha holds, so that row always survives the join condition.
    * Verify is exact (merge-scan overlap + integer cross-multiplied
    * threshold), so output = ALL (probe, corpus) pairs with jac >= t —
    * the brute-force truth, which is what the q168 oracle recomputes.
    * Candidate multiplicity (one row per shared indexed key) is left to
    * the CALLER to collapse: batch gates distinct(); the streaming form
    * uses dropDuplicatesWithinWatermark (q162's bounded-state shape).
    * At 100 TB: the corpus index is bucketed/partitioned on h once per
    * index rebuild; each micro-batch shuffles only the delta. */
  private[graft] def prefixProbePairs(probeSets: DataFrame,
      corpusSets: DataFrame, t10: Int, cap: Option[Int] = None): DataFrame = {
    val pref = prefixIndex(corpusSets, t10, cap)
      .select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
        col("h"), col("rn"))
    val alpha = s"($t10 * (sz_a + sz_b) + ${10 + t10} - 1) DIV ${10 + t10}"
    // extra probe columns (e.g. the stream's event-time) ride through
    // unchanged — the streaming caller needs them for its watermark
    val extras = probeSets.columns
      .filterNot(Set("doc_id", "hk", "sz")).map(col).toSeq
    val probes = probeSets.select(col("doc_id").as("doc_a") +:
      col("sz").as("sz_a") +: col("hk").as("hk_a") +: extras :+
      explode(col("hk")).as("h"): _*)
    probes.join(pref,
        Seq("h")).filter(
          col("sz_a") * 10 >= col("sz_b") * t10 &&
          col("sz_b") * 10 >= col("sz_a") * t10 &&
          col("sz_b") - col("rn") + 1 >= expr(alpha))
      .join(corpusSets.select(col("doc_id").as("doc_b"), col("hk").as("hk_b")),
        Seq("doc_b"))
      // same early-exit verify as [[prefixFilterPairs]] (r16): exact
      // for every row the threshold keeps, -1 below it
      .withColumn("n_shared", expr("sorted_intersect_atleast(hk_a, hk_b, " +
        s"($t10 * (sz_a + sz_b) + ${10 + t10} - 1) DIV ${10 + t10})"))
      .filter(col("n_shared") * 10 >=
        (col("sz_a") + col("sz_b") - col("n_shared")) * t10)
      .select(col("doc_a") +: col("doc_b") +: col("n_shared") +:
        (col("n_shared") / (col("sz_a") + col("sz_b") - col("n_shared")))
          .as("jac") +: extras: _*)
  }

  /** The q161 corpus: one row per doc with its distinct FNV-hashed token
    * BIGRAMS. Unigram token sets are useless on a shared-vocabulary
    * corpus (measured: 55% of ALL doc pairs exceed jac 0.6 on unigrams
    * here — set similarity must be computed on keys that carry word
    * ORDER), and q34's trigrams already serve the looser 0.5 tier;
    * bigrams at 0.8 sit between, and the prefix filter is granularity-
    * agnostic (the gate runs t=0.8: at 0.6 this corpus's dense natural
    * similarity put 15.2M pairs — 3% of ALL pairs — past the prefix
    * filter at sf0.1; thresholds are corpus policy, the operator takes
    * t10 as a parameter and the spec certifies completeness at 0.6).
    * Same zip_with-slice construction as [[shinglesSql]] (a positional
    * lambda would re-run the upstream split per element). */
  private[graft] def tokenSets(s: SparkSession, dir: String): DataFrame =
    // repartition BEFORE the tokenize/hash/sort projection: a projection
    // below the exchange executes in the upstream task, and the harness
    // tables are single-file scans — without this the whole per-doc
    // pipeline runs in ONE task (measured ~2s of the query's wall).
    // 3 consumers (prefix build + both verify sides): materialize the
    // one-row-per-doc stage, or the tokenize->bigram->hash pipeline
    // runs three times (same rationale as [[shingleSets]]; the prefix
    // self-join's two sides dedupe via ReusedExchange on their own).
    // NOT StageMemo'd (considered and rejected, round 12): q161 is this
    // frame's ONLY gate consumer (q168's probe indexes the RAW corpus,
    // not the planted one), and the memo policy requires 2+ consumers —
    // a single-consumer memo would only move q161's build off its
    // reported min, the self-granted-exemption class ADVICE r11 warned
    // about. localCheckpoint per the repo convention: blocks are reaped
    // by ContextCleaner with the frame instead of outliving the query
    // in the CacheManager (the r7 leak class).
    tokenSetsOf(s, spreadScan(plantedNear(s, dir)))
      .localCheckpoint()

  /** The bigram-key projection of [[tokenSets]] over an ARBITRARY
    * (doc_id, text) frame — per-row map work only (tokenize, bigram,
    * fnv64, sort), so it is legal on a STREAMING frame too (q168 probes
    * an unbounded delta stream through it; no window, no shuffle). The
    * caller decides materialization. */
  private[graft] def tokenSetsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s) // bigram_keys
    // sorted-ascending distinct keys: sorting once per DOC here is what
    // lets the verify stage count overlaps with the zero-allocation
    // merge scan (sorted_intersect_count) per candidate PAIR.
    // bigram_keys (r17) fuses the former zip_with-concat -> fnv64 ->
    // array_distinct -> array_sort chain into one codegen'd pass that
    // never materializes a bigram string (bit-identical output —
    // LlmSpec pins equality against the unfused chain); the chain's
    // ~n UTF8String concats + three intermediate arrays per row were
    // the largest slice of the q161/q168 index builds.
    withTokens(docs)
      .select(col("doc_id") +: docs.columns.filter(c =>
          c != "doc_id" && c != "text" && c != "tk").map(col).toSeq :+
        expr("bigram_keys(tk)").as("hk"): _*)
      .withColumn("sz", size(col("hk")))
      .filter(col("sz") > 0)
  }

  /** Documents plus an exact copy of each at doc_id + [[PlantedOffset]]. */
  private def plantedExact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.select((col("doc_id") + PlantedOffset).as("doc_id"), col("text")))
  }

  /** Planted near-dup copies live at doc_id + this offset — shared by
    * every consumer that must map a planted id back to its original's
    * metadata (q239's source universe) so the convention has one
    * definition. The harness doc_id domain (max 499 at sf0.1) never
    * reaches it; the matching literal in the q34/q239 oracle SQL is
    * necessarily textual. */
  private[graft] val PlantedOffset = 10000L

  /** Documents plus a near-duplicate copy (last 5 tokens dropped).
    * `private[operators]`: CorpusQueries' cluster-keeper query (q135)
    * scores the SAME planted corpus the q34/q59 pair graph runs over. */
  private[operators] def plantedNear(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(withTokens(d).select((col("doc_id") + PlantedOffset).as("doc_id"),
      expr("array_join(slice(tk, 1, greatest(size(tk) - 5, 1)), ' ')").as("text")))
  }

  /** The VALIDATED embeddings surface every vector query reads — the
    * ingestion-validation tier a production pipeline runs before any
    * similarity math. A row is valid iff its label is non-null (label
    * IS the cell-assignment attribute of the whole label-stratified
    * ANN family — an unlabeled vector cannot be trained or coded, and
    * a NULL cell id silently falls out of every equi-join at a
    * different stage per query), its embedding is non-null,
    * every component is non-null, finite, and within the documented
    * |x| ≤ 1e6 value domain, and at least one component is non-zero
    * (positive norm). The r15 hostile-corpus sweep is why this tier
    * exists: ONE zero-norm vector turned every cosine denominator to
    * 0 (Spark ANSI throws where DuckDB emits inf — ~30 queries died),
    * a NULL embedding broke both engines differently, and a 1e30
    * component overflowed the fixed-point micro grids whose design
    * assumes O(1) embedding values. Exclusion is the deliberate,
    * DOCUMENTED contract (junk vectors can never be "similar" to
    * anything); the oracle side applies the identical predicate via
    * [[graft.SparkEntry]]'s uniform rewrite, so engine and oracle see
    * one population. On clean corpora the filter keeps every row and
    * every hash is unchanged. Scale: a pushed-down map-side filter on
    * the scan — no exchange. */
  private[graft] def vecTable(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").filter(expr(
      "label IS NOT NULL AND embedding IS NOT NULL AND size(filter(embedding," +
        " x -> x IS NULL OR isnan(x) OR abs(x) > 1000000)) = 0" +
        " AND size(filter(embedding, x -> x <> 0)) > 0"))

  /** The same validity predicate in DuckDB SQL — interpolated around
    * every oracle's `FROM embeddings` by SparkEntry so the two engines
    * can never disagree on the admitted population. */
  private[graft] val VecValidDuckSql: String =
    "label IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding," +
      " x -> x IS NULL OR isnan(x) OR abs(x) > 1000000)) = 0" +
      " AND len(list_filter(embedding, x -> x <> 0)) > 0"

  /** Embeddings as double[] plus a 2x-scaled copy at vec_id + 100000.
    * Scaling by a power of two is exact in IEEE arithmetic, so the copy's
    * cosine against the original is exactly 1.0 and its normalized
    * components are bit-identical — deterministic planted near-dups. */
  private def plantedVecs(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir, "vec_id", "label")
    e.unionByName(e.select((col("vec_id") + 100000).as("vec_id"), col("label"),
      expr("transform(v, x -> x * 2.0D)").as("v")))
  }

  /** L2-normalized vectors (vec_id, nv) of `e` (vec_id, v). */
  private def unitVecs(e: DataFrame): DataFrame =
    e.withColumn("nv", expr(s"transform(v, x -> x / ${normOf("v")})"))
      .select(col("vec_id"), col("nv"))

  /** One Lloyd round over unit vectors `e` (vec_id, nv) of `n` rows:
    * E-step argmin (d2, cid) against the ⌈√n⌉ smallest-vec_id seeds,
    * then the exact fixed-point CentroidFixed M-step. Returns the
    * checkpointed cells (cid, cv). */
  private def lloydCells(e: DataFrame, n: Long): DataFrame = {
    val seeds = smallestIdSeeds(e, sqrtCells(n), "cid", col("nv").as("cv"))
    nearestCentroid(e, seeds, "nv", "cv", "nv")
      .select(col("cid"), col("nv"))
      .groupBy(col("cid"))
      .agg(centroid(col("nv")).as("cv"))
      .localCheckpoint()
  }

  /** Each unit vector's one-cell residency against `cells` (cid, cv):
    * (vec_id, cell, av, anrm), checkpointed. */
  private def cellMembers(e: DataFrame, cells: DataFrame): DataFrame =
    nearestCentroid(e, cells, "nv", "cv", "nv")
      .select(col("vec_id"), col("cid").as("cell"), col("nv").as("av"))
      .withColumn("anrm", expr(normOf("av")))
      .localCheckpoint()

  /** The FROZEN semantic index over the raw embeddings table, shared by
    * the batch admission gate (q245) and the streaming admission
    * builder (q247 in `graft.streaming`): q166's train loop on the
    * indexed corpus only — L2-normalize, √n seed cells by smallest
    * vec_id, one Lloyd round (E-step argmin (d2, cid) + exact
    * fixed-point CentroidFixed M-step), then every indexed vector's
    * one-cell residency. Returns (cells (cid, cv), members (vec_id,
    * cell, av, anrm)). Memoized ([[StageMemo]] keys "sem_cells" /
    * "sem_members"): a pipeline trains the index ONCE and every
    * admission path reads it — at 100 TB the members frame IS the index
    * store. */
  private[graft] def semIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    lazy val ex = unitVecs(vectors(s, dir, "vec_id"))
    val cells = StageMemo(s, dir, "sem_cells") { lloydCells(ex, ex.count()) }
    val members = StageMemo(s, dir, "sem_members") { cellMembers(ex, cells) }
    (cells, members)
  }

  /** q245/q258's shared admission engine over a caller-chosen EXISTING-
    * members frame (vec_id, cell, av, anrm) — q245 passes the full
    * stored artifact, q258 the erased (anti-joined) one. ONE definition
    * so the scoring/keep rule can never fork between the live and the
    * post-erasure path. Assign the standard [[admissionDelta]] batch to
    * the frozen centroids (broadcast E-step), count ≥0.99-cosine hits
    * against existing members of the touched cells (ex_hits) and
    * earlier batch members (new_hits), keep iff neither. */
  private[graft] def semAdmissionRecord(s: SparkSession, dir: String,
      exMembers: DataFrame): DataFrame = {
    val (cells, _) = semIndex(s, dir)
    val nwAsg = cellMembers(unitVecs(admissionDelta(s, dir)), cells)
    // the member build sides carry full vectors and GROW WITH THE
    // CORPUS (exMembers is the stored artifact) — the shuffle_hash
    // preference is gated on the per-task build budget at the vector
    // row width (r15 verdict item 1's rule applied to this family);
    // bounds: the stored members artifact for exMembers (its erased
    // subset in the q258 path only shrinks it), the checkpointed batch
    // for nwAsg. Over budget the joins fall back to sort-merge.
    val nMembers = probeCount(semIndex(s, dir)._2)
    val nBatch = probeCount(nwAsg)
    def hits(members: DataFrame, bound: Long, name: String): DataFrame = nwAsg
      .select(col("cell"), col("vec_id"), col("av").as("bv"),
        col("anrm").as("bnrm"))
      .join(gatedShuffleHash(members, bound, VecRowBytes), Seq("cell"))
      .filter(col("mbr") < col("vec_id"))
      .withColumn("score", round(expr(dotSql) / (col("anrm") * col("bnrm")), 4))
      .filter(col("score") >= 0.99)
      .groupBy(col("vec_id")).agg(count(lit(1)).as(name))
    val exHits = hits(exMembers.select(col("cell"), col("vec_id").as("mbr"),
      col("av"), col("anrm")), nMembers, "ex_hits")
    val nwHits = hits(nwAsg.select(col("cell"), col("vec_id").as("mbr"),
      col("av"), col("anrm")), nBatch, "new_hits")
    nwAsg.select(col("vec_id"), col("cell"))
      .join(gatedShuffleHash(exHits, nBatch), Seq("vec_id"), "left")
      .join(gatedShuffleHash(nwHits, nBatch), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("ex_hits"), lit(0L)).as("ex_hits"),
        coalesce(col("new_hits"), lit(0L)).as("new_hits"))
      .withColumn("keep", (col("ex_hits") + col("new_hits")) === 0)
      .orderBy(col("vec_id"))
  }

  /** The q259-compacted members as a memoized stage
    * ("compacted_members"): the post-swap sem-index era — q259 ships
    * it, the q262 validate-then-swap audit reads the same stored frame
    * (see [[CorpusQueries.compactedPostings]]'s rationale). */
  private[graft] def compactedMembers(s: SparkSession, dir: String): DataFrame =
    graft.operators.StageMemo(s, dir, "compacted_members") {
      val del = vecTable(s, dir)
        .filter(col("vec_id") % 5 === 2).select(col("vec_id"))
        .localCheckpoint() // gate probe + both compactMembers branches
      compactMembers(semIndex(s, dir)._2, del).localCheckpoint()
    }

  // Tombstone-batch broadcast contract (r14 review note): RTBF batches
  // are BOUNDED in production (a legal request queue, not a corpus
  // fraction — the harness's %5 cohort is a test-data artifact), which
  // is why del broadcasts here and in the q256/q257/q264 siblings; a
  // deployment facing corpus-scale deletion runs the scheduled rebuild
  // instead of compaction (the q266 trigger's 'rebuild' arm).
  // ERA COMPOSITION (the q270/q271 law for this family): composes by
  // construction and needs no chained gate — member compaction is a
  // pure row filter (anti-join on vec_id, no regroup, no cap), so
  // compact(compact(M, d₁), d₂) and compact(M, d₁ ∪ d₂) are the same
  // relational expression; the pair-graph artifact (q272) composes
  // identically. The postings/shingle compactors DO need the chained
  // proof (q270/q271) because their untouched-branch routing and
  // emptied-key drops are era-dependent.
  /** q259's engine over the stored members frame (vec_id, cell, av,
    * anrm) and a (vec_id) tombstone set, factored so ScaleSpec can
    * drive multi-cell geometries. Touched cells come from the erased
    * vectors' STORED residencies (members is keyed by vec_id — the
    * lookup is one batch-sized semi-join, never a members scan);
    * untouched cells pass through whole, only touched cells pay the
    * anti-join. Projected to scalar (vec_id, cell) for the gate. */
  private[graft] def compactMembers(members: DataFrame, del: DataFrame): DataFrame = {
    // size-gated hints ([[Gates.batchHint]] ladder, r15
    // verdict item 1): del is batch-sized in production but the sweep
    // corpora pass cohort-scale sets; delCells is checkpointed
    // (cell-count-sized) so both branch probes are cached-block reads
    val delH = batchHint(del)
    val delCells = members.join(delH, Seq("vec_id"), "left_semi")
      .select(col("cell")).distinct()
      .localCheckpoint() // both branches below + the gate probe
    val delCellsH = batchHint(delCells)
    val untouched = members.join(delCellsH, Seq("cell"), "left_anti")
      .select(col("vec_id"), col("cell"))
    val rewritten = members.join(delCellsH, Seq("cell"), "left_semi")
      .join(delH, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
    untouched.unionByName(rewritten)
  }

  /** q245/q247's arriving batch over the embeddings table (vec_id, v):
    * 2x copies of vec_id%3==0 at +200000 (exact-cosine dups of the
    * index), reversed vectors of vec_id%3==1 at +200000 (novel), and 4x
    * second-generation copies of vec_id%6==0 at +400000 (dup of BOTH
    * the indexed original and the earlier +200000 batch member). */
  private[graft] def admissionDelta(s: SparkSession, dir: String): DataFrame = {
    val base = vectors(s, dir, "vec_id")
    base.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 200000).as("vec_id"),
        expr("transform(v, x -> x * 2.0D)").as("v"))
      .unionByName(base.filter(col("vec_id") % 3 === 1)
        .select((col("vec_id") + 200000).as("vec_id"),
          reverse(col("v")).as("v")))
      .unionByName(base.filter(col("vec_id") % 6 === 0)
        .select((col("vec_id") + 400000).as("vec_id"),
          expr("transform(v, x -> x * 4.0D)").as("v")))
  }

  /** q146's label-stratified scale-adaptive cell table, shared with the
    * NN-descent refinement (q169): each label contributes a quota of
    * ⌈√n / |labels|⌉ seed vectors (its smallest vec_ids, picked by the
    * bounded-heap TopK partial agg — exchange = labels × quota rows,
    * never a window), so total cells ≥ max(|labels|, ⌈√n⌉): the IVF
    * sizing rule with a per-label coverage floor. The two sizing counts
    * are tiny agg actions (the q155 precedent); ids are exact in double
    * far beyond the corpus range (2^53). localCheckpointed: the table
    * is broadcast into BOTH aggregate branches of [[knnGraphEdges]] AND
    * counted for the salt fanout — without the cut each consumer
    * re-runs the seed selection (3 corpus scans). */
  private def stratifiedCells(s: SparkSession, e: DataFrame): DataFrame = {
    val n = probeCount(e) // memo-shared with the edge gates
    val nLab = math.max(1L,
      e.agg(countDistinct(col("label"))).head().getLong(0))
    val quota = math.max(1,
      math.ceil(math.sqrt(n.toDouble) / nLab.toDouble).toInt)
    val seedIds = e.groupBy(col("label"))
      .agg(topK(quota)((-col("vec_id")).cast("double"), col("vec_id")).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t._2").as("vec_id"))
    e.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("vec_id").cast("int").as("cell"), col("v").as("cv"),
        col("nrm").as("cnrm"))
      .localCheckpoint()
  }

  /** q169's hub-bounded undirected adjacency over a (src_id, nbr_id)
    * k-NN edge list: all forward edges (out-degree k by construction)
    * plus AT MOST 5 reverse edges per node — its 5 smallest
    * in-neighbor ids, picked by the bounded-heap TopK partial agg (the
    * reverse-neighbor SAMPLING of the NN-descent algorithm). Caps every
    * adjacency degree at k+5, so the 2-hop expand is ≤ (k+5)²·n rows no
    * matter how skewed the in-degree distribution is — the structural
    * defense against cosine hubness. `private[graft]` so LlmSpec
    * can prove the bound on a planted star. */
  private[graft] def descentAdjacency(edges: DataFrame): DataFrame = {
    val fw = edges.select(col("src_id"), col("nbr_id"))
    val rev = fw.groupBy(col("nbr_id"))
      .agg(topK(5)((-col("src_id")).cast("double"), col("src_id")).as("top"))
      .select(col("nbr_id").as("src_id"), explode(col("top")).as("t"))
      .select(col("src_id"), col("t._2").as("nbr_id"))
    fw.unionAll(rev)
  }

  /** Shared kNN-graph core (k = 5) for q146/q155: blocked all-corpus
    * 5-NN over `e` (vec_id, v, nrm) using `cells` (cell, cv, cnrm;
    * caller localCheckpoints it — it is broadcast into both aggregate
    * branches AND counted for the salt fanout). Every node multi-probes
    * its top-2 cells on the BUILD side (the probe table is corpus-sized,
    * NEVER broadcast — candidates meet probes in a cell-keyed shuffle
    * join of volume Σ|cell|·|probes(cell)|, the intrinsic blocked cost);
    * per-node ranking is the bounded-heap TopK partial aggregate, so
    * candidate rows die map-side and the per-node exchange is n x k.
    *
    * Bounded salt on the cell join: with FEW cells (q146: 10 labels <
    * 32 cores) a plain cell-keyed join runs the whole pair scoring on
    * |cells| tasks. Candidates take salt = hash(nbr_id) % R, probes
    * replicate xR, pairs meet exactly once (each dst lives in ONE salt
    * bucket); R = cores/|cells| from a tiny count over the dim table —
    * a production layout with cells ~ sqrt(n) >> cores (q155's rule)
    * gets R = 1 and pays zero replication. shuffle_hash (size-gated on
    * the per-task build budget) because the (cell, salt) keys are
    * uniform by construction and sort-merge would sort millions of
    * 2x64-double pair-precursor rows per side. */
  private def knnGraphEdges(s: SparkSession, e: DataFrame,
      cells: DataFrame): DataFrame = knnGraphEdgesOn(s, e, e, cells)

  /** Two-sided core of [[knnGraphEdges]]: `build` supplies the
    * candidate/neighbor population (each vector argmax-assigned to ONE
    * cell), `probe` the query side (top-2 cells each). The symmetric
    * all-corpus graph is `build == probe`; the INCREMENTAL form (q246)
    * probes a new batch against the frozen index without touching the
    * existing graph's edges. Each side scores against the broadcast
    * cell table independently — the lazy `scored` frame of the
    * one-sided original was recomputed per consuming branch anyway, so
    * the split costs nothing. */
  private def knnGraphEdgesOn(s: SparkSession, build: DataFrame,
      probe: DataFrame, cells: DataFrame): DataFrame = {
    // corpus side: each vector lives in exactly ONE cell (q46 argmax)
    val withCell = nearestCell(cellScores(build, cells), "v", "nrm")
      .select(col("vec_id").as("nbr_id"), col("cell"),
        col("v").as("bv"), col("nrm").as("bnrm"))
    // probe side: every node's top-2 cells, payload carried by first()
    // in the same agg
    val probes = probeCells(cellScores(probe, cells), "src_id",
      "av" -> first(col("v")), "anrm" -> first(col("nrm")))
    val nCells = cells.count().toInt
    val fanout = math.max(1,
      s.sparkContext.defaultParallelism / math.max(nCells, 1))
    val salted = withCell.withColumn("salt",
      pmod(xxhash64(col("nbr_id")), lit(fanout)).cast("int"))
    val probesR = probes.withColumn("salt",
      explode(expr(s"sequence(0, ${fanout - 1})")))
    // the probe build side is 2·fanout rows per probe node WITH the
    // vector payload — corpus-growing when probe == build, so the hint
    // rides the ladder at vector row width (r17, verdict item 7):
    // while the exploded probe side fits 64 MB it broadcasts, which
    // leaves the corpus-side cell assignment entirely UN-shuffled (the
    // (cell, salt) exchange of every vector payload disappears); past
    // the byte cap the old per-task-budget shuffle-hash tier and the
    // sort-merge fallback re-engage unchanged.
    val nProbe = probeCount(probe)
    salted.join(batchHint(probesR, nProbe * 2L * fanout, VecRowBytes),
      Seq("cell", "salt"))
      .filter(col("src_id") =!= col("nbr_id"))
      .withColumn("score",
        round(expr("vec_dot(av, bv)") / (col("anrm") * col("bnrm")), 4))
      .groupBy(col("src_id"))
      .agg(topK(5)(col("score"), col("nbr_id")).as("top"))
      // rank + score ride along (the [[Vectors.ranked]] tail, heap
      // element named `t`): q146/q155 count edges, q169 reads the id
      // pairs, q175 filters rnk = 1 for the mutual-top-1 join
      .select(col("src_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("src_id"), col("t._2").as("nbr_id"),
        col("t._1").as("score"), (col("pos") + 1).as("rnk"))
  }

  /** MinHash-LSH near-dup pairs, exact-verified: 16 minhashes (family
    * mix64(h ^ seed_j) over FNV-hashed shingles — both halves
    * DuckDB-replicable, see [[MinhashSeeds]], so q151 gates this pair
    * list row-by-row), 4 bands of 4, band-bucket join
    * for candidates, then exact Jaccard >= 0.5 for candidates via the
    * merge scan on the cached per-doc sorted shingle-hash arrays.
    * Signatures are array_min over the array form — zero shuffles before
    * the band join — and verification is two hash joins of the tiny
    * candidate set against the one-row-per-doc cache, replacing the
    * exploded-index self-join + localCheckpoint that dominated earlier
    * benches (62s first run at sf0.1). This IS the 100 TB fuzzy-dedup
    * path: shuffle ~ Σ band-bucket², never corpus². The band key stays
    * xxhash64 (internal bucketing only — bucket equality is signature-
    * tuple equality, which is what the oracle joins on). */
  private[graft] def minhashLshPairs(s: SparkSession, dir: String): DataFrame =
    minhashLshPairsOf(shingleSets(s, dir))

  /** q34's pair graph WITHOUT its presentation orderBy — the builder for
    * graph consumers (q59/q130/q135/q158/q163 CC, triangles, keepers)
    * that read the pairs unordered; the gate query adds the global sort
    * only for its own deterministic output.
    *
    * Memoized + localCheckpointed ([[StageMemo]]): this IS the shared
    * pipeline stage ~9 gate queries consume — at 100 TB it is computed
    * once and materialized, so the suite prices it once too. The frame
    * is (doc_a, doc_b, jac), near-dup-pair-sized. */
  private[graft] def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "ngram_pairs") {
      prefixFilterPairs(shingleSets(s, dir).withColumnRenamed("hs", "hk"), 5,
          Some(ShingleDfCap))
        .select(col("doc_a"), col("doc_b"), col("jac"))
        .localCheckpoint()
    }

  /** q240's engine: classify each candidate pair's RELATION from its
    * exact overlap — containment (inter over the smaller set, the
    * quote/subset signal Jaccard dilutes when sizes differ) versus
    * resemblance. `contained` (≥0.9 of the smaller side) takes
    * precedence over `near_copy` (jac ≥ 0.8): exact copies are
    * mutually contained. Factored so the spec can plant closed-form
    * set geometries. */
  private[graft] def dupRelations(docsets: DataFrame, cand: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docsets.sparkSession)
    val a = docsets.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
      col("hs").as("hs_a"))
    val b = docsets.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
      col("hs").as("hs_b"))
    cand.select(col("doc_a"), col("doc_b"))
      .join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      // merge scan, not array_intersect's per-row hash set — hs is
      // sorted-ascending by the docsets contract ([[exactJaccardOf]])
      .withColumn("inter", expr("sorted_intersect_count(hs_a, hs_b)"))
      .withColumn("jac",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .withColumn("cont_ppm", expr( // gridDiv: guarded micro grid (r14)
        graft.operators.GovernanceQueries.gridDiv("inter", "least(sz_a, sz_b)")))
      .withColumn("relation",
        when(col("cont_ppm") >= 900000, "contained")
          .when(col("jac") >= 0.8, "near_copy")
          .otherwise("partial_overlap"))
      .select(col("doc_a"), col("doc_b"),
        col("sz_a").cast("long").as("sz_a"),
        col("sz_b").cast("long").as("sz_b"), col("inter"), col("jac"),
        (col("cont_ppm").cast("double") / 1e6).as("containment"),
        col("relation"))
  }

  /** Same, over an already-materialized [[shingleSets]] frame — q35 runs
    * the exact truth AND this pipeline over ONE localCheckpointed stage
    * instead of materializing the tokenize->shingle scan twice. */
  private[graft] def minhashLshPairsOf(docsets: DataFrame): DataFrame = {
    val sigs = docsets.select(col("doc_id") +: col("sz") +:
      (0 until 16).map(j =>
        expr(s"array_min(transform(hs, h -> mix64(h ^ ${MinhashSeeds(j)}L)))").as(s"s$j")): _*)
    val bandKey = (b: Int) =>
      xxhash64((b * 4 until b * 4 + 4).map(j => col(s"s$j")): _*)
    val bands = sigs.select(col("doc_id"), col("sz"),
        posexplode(array((0 until 4).map(bandKey): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val ca = bands.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val cb = bands.select(col("doc_id").as("doc_b"), col("band"), col("bkey"))
    val cand = ca.join(cb, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // exact |A∩B| for candidates only (shared verifier with q34)
    exactJaccardOf(docsets, cand, 0.5)
  }

  /** (doc_id, sh): 64-bit simhash per document of the planted corpus.
    * Materialized via localCheckpoint: 16 bytes/doc with two join-side
    * consumers, each of which would otherwise re-run tokenize+simhash
    * over the corpus. localCheckpoint (not persist) so the tiny frame is
    * reaped by ContextCleaner when the query's plan is dropped instead of
    * sitting in the CacheManager for the session's lifetime — the same
    * leak class q123-q125 fixed in round 7. */
  private[graft] def simhashDocs(s: SparkSession, dir: String): DataFrame =
    // memoized ([[StageMemo]] "simhash_docs"): the 16-byte/doc signature
    // table is a stored index artifact (the thing a dedup tier persists
    // next to the corpus), and its two gate consumers (q36 report, q152
    // pair list) each re-ran tokenize+simhash over the corpus under the
    // bench's per-query cold cache
    StageMemo(s, dir, "simhash_docs") {
      // spread before tokenize+simhash (r16, the tokenSets
      // convention): the per-doc signature fold ran inside the
      // single-file scan task. Scan-split-gated (r17).
      withTokens(spreadScan(plantedNear(s, dir)))
        .select(col("doc_id"),
          graft.functions.TextFunctions.simhash64(col("tk")).as("sh"))
        .localCheckpoint()
    }

  /** [[simhashPairs]] over the memoized signature table, itself
    * memoized ("simhash_pairs"): the pair list is the stage output q152
    * ships and q36 certifies — both consumers paid the banded join cold
    * (3-4 s each at sf0.1) under the bench's per-query isolation. */
  private[graft] def simhashPairsStage(s: SparkSession, dir: String): DataFrame =
    StageMemo(s, dir, "simhash_pairs") {
      simhashPairs(simhashDocs(s, dir)).localCheckpoint()
    }

  /** SimHash near-dup pairs over a (doc_id, sh) frame: 4x16-bit band
    * blocking, Hamming distance <= 6 via bit_count(xor). */
  private[graft] def simhashPairs(docs: DataFrame): DataFrame = {
    val banded = docs.select(col("doc_id"), col("sh"),
      posexplode(expr("transform(sequence(0, 3), b -> shiftright(sh, b * 16) & 65535)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    // NOTE: no shuffle_hash hint here — SimHash band keys are heavily
    // clustered (similar docs share bands by design), and hash-building
    // over skewed keys measured slower than sort-merge (10.5s vs 5.9s).
    val a = banded.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
      col("band"), col("bkey"))
    val b = banded.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
      col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey")).filter(col("doc_a") < col("doc_b"))
      // first-matching-band dedup: a pair that collides in k bands comes
      // out of the join k times; keep it only where `band` IS the first
      // colliding band, recomputed from the two signatures already in
      // the row. Exact dedup as a map-side scalar filter — replaces a
      // full shuffle-distinct of the candidate set (the largest
      // intermediate of the query; measured 4.0s -> 1.0s warm at sf0.1).
      // Spelled as a flat CASE, not an array lambda: the lambda form
      // allocates a sequence per row and measured SLOWER than the
      // distinct it replaced.
      .filter(expr(
        "band = CASE WHEN (sh_a & 65535) = (sh_b & 65535) THEN 0 " +
        "WHEN (shiftright(sh_a, 16) & 65535) = " +
          "(shiftright(sh_b, 16) & 65535) THEN 1 " +
        "WHEN (shiftright(sh_a, 32) & 65535) = " +
          "(shiftright(sh_b, 32) & 65535) THEN 2 ELSE 3 END"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= 6)
  }

  /** The pair dot product, see [[Vectors.normOf]]. */
  private val dotSql = "vec_dot(av, bv)"

  /** q132's PQ training + encode stage, exposed so the spec can pin
    * mechanism parity (the engine's chosen code per (vector, subspace)
    * equals an independent argmin over the same fixed-point codebook).
    * Returns (codebook, enc): codebook is (code, m, c8, nc) — the per-label
    * 8-dim sub-centroids in CentroidFixed's order-independent fixed-point
    * arithmetic, ~labels x 8 tiny rows, broadcast everywhere; enc is
    * (vec_id, m, code) — the q127 partial-agg argmin keyed by (vec_id, m),
    * so the n x codes stream partial-aggregates map-side and the encode
    * exchange carries M=8 rows per vector. */
  private[graft] def pqEncode(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = vectors(s, dir, "vec_id", "label")
    val cells = e.groupBy(col("label")).agg(centroid(col("v")).as("cv"))
      .select(col("label").as("code"), col("cv"))
    val codebook = subCodebook(cells, col("code"), "cv")
    (codebook, pqCodes(e, "v", codebook))
  }


  /** Top-3 smallest `dist` per query_id of `cand` (query_id, nbr_id,
    * dist): the heap ranks -dist, so DESC score is ASC distance with ties
    * toward the smaller nbr_id; +0.0 turns a possible -0.0 back into 0.0
    * for the hash gate. */
  private def rankedByDist(cand: DataFrame): DataFrame =
    ranked(cand, 3, Seq("query_id"), -col("dist"), col("nbr_id"), "nbr_id")
      .select(col("query_id"), col("nbr_id"), (-col("score") + lit(0.0)).as("dist"),
        col("rnk"))

  /** q145's residual IVF-PQ, factored so PlanSpec can explain the WHOLE
    * DAG: the query runs with `checkpoint = true` (cells and scored each
    * feed multiple consumers — the cuts make the corpus-sized stages run
    * once), while the spec builds with `checkpoint = false` because a
    * localCheckpoint replaces its subtree with a LogicalRDD and would
    * hide the shapes the pin asserts. */
  private[graft] def ivfpq(s: SparkSession, dir: String,
      checkpoint: Boolean): DataFrame = {
    def cp(df: DataFrame): DataFrame =
      if (checkpoint) df.localCheckpoint() else df
      val e = withNorm(vectors(s, dir, "vec_id", "label"))
      // cells feeds 3 consumers (scoring, corpus residuals, query
      // residuals) and scored feeds 2 (assignment, probes) — checkpoint
      // both so the corpus-sized CentroidFixed agg and the n x cells
      // scoring pass run ONCE instead of per consumer
      val cells = labelCells(e).transform(cp)
      val scored = cellScores(e, cells).transform(cp)
      // q46's argmax assignment with label riding along (the residual
      // codebook groups by ORIGINAL label, not by assigned cell)
      val withCell = nearestCell(scored, "v", "label")
      val resid = withCell
        .join(broadcast(cells.select(col("cell"), col("cv"))), Seq("cell"))
        .withColumn("r", expr("zip_with(v, cv, (a, b) -> a - b)"))
        .select(col("vec_id"), col("cell"), col("label"), col("r"))
        .transform(cp) // shared by codebook, encode, and recon-cell
      val rcb = subCodebook(resid.groupBy(col("label")).agg(centroid(col("r")).as("rc")),
        col("label").as("code"), "rc")
      val recon = pqDecode(pqCodes(resid, "r", rcb), rcb)
        .join(resid.select(col("vec_id"), col("cell")), Seq("vec_id"))
        .withColumn("nr", expr("vec_dot(rv, rv)"))
      val probes = probeCells(scored.filter(col("vec_id") < 10), "query_id")
      // per probed cell the query re-residualizes against THAT cell's
      // centroid — the asymmetric-distance trick needs query and
      // candidate expressed in the same cell-local frame
      val qp = probes
        .join(e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("qv0")), Seq("query_id"))
        .join(broadcast(cells.select(col("cell"), col("cv"))), Seq("cell"))
        .withColumn("rq", expr("zip_with(qv0, cv, (a, b) -> a - b)"))
        .withColumn("nrq", expr("vec_dot(rq, rq)"))
        .select(col("cell"), col("query_id"), col("rq"), col("nrq"))
      val cand = recon.select(col("vec_id").as("nbr_id"), col("cell"), col("rv"), col("nr"))
        .join(broadcast(qp), Seq("cell"))
        .filter(col("query_id") =!= col("nbr_id"))
        .withColumn("dist",
          round(col("nrq") + col("nr") - lit(2) * expr("vec_dot(rq, rv)"), 4))
      rankedByDist(cand).orderBy(col("query_id"), col("rnk"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- text analysis: token counting (whitespace + BPE-ish regex),
    // punctuation/stopword profile, quality bucket. Narrow scan->project.
    "q30_text_stats" -> ((s, dir) => {
      withTokens(Tables.documents(s, dir))
        .select(col("doc_id"),
          length(col("text")).as("len_chars"),
          expr("size(tk)").as("n_words"),
          // \s spelled as the RE2-equal class (see WsClass)
          size(regexp_extract_all(col("text"),
            lit("\\w+|[^\\w \\t\\n\\f\\r]"), lit(0))).as("n_bpe_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[^\\w \\t\\n\\f\\r]"), lit(0))).as("n_punct"),
          expr("size(filter(tk, t -> t IN ('the', 'a', 'and', 'of')))").as("n_stop"))
        .withColumn("quality",
          when(col("n_words").between(20, 1000) &&
               col("n_punct") / col("len_chars") < 0.1, "good").otherwise("low"))
        .orderBy(col("doc_id"))
    }),

    // --- language ID: marker-stopword heuristic (deterministic n-gram-free
    // variant; the content is synthetic so the score, not accuracy, is the
    // verified artifact).
    "q31_lang_id" -> ((s, dir) => {
      langGuess(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"), col("guess"),
          (col("guess") === col("lang")).as("hit"))
        .orderBy(col("doc_id"))
    }),

    // --- document fingerprinting: md5 of normalized text (content hash).
    // The rolling-hash variant is the RollingHash64 expression (unit-tested;
    // not DuckDB-expressible).
    "q32_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), md5(expr(normSql)).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // --- exact dedup at scale: hash-groupBy on the content fingerprint;
    // map-side partial agg keeps shuffle at one row per distinct hash.
    "q33_dedup_exact" -> ((s, dir) => {
      plantedExact(s, dir)
        .groupBy(md5(expr(normSql)).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy(col("keeper"))
    }),

    // --- n-gram Jaccard dedup: the prefix-filtered shingle join at t=0.5
    // under the df cap (every index bucket <= cap rows, never corpus²),
    // then exact set Jaccard over the full shingle arrays for candidates
    // only. The oracle replicates the cap (`MIN(df) <= 256`), which is
    // inactive on the harness corpora (max df 49 at sf0.1).
    "q34_ngram_jaccard" -> ((s, dir) =>
      ngramJaccardPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))),

    // --- prefix-filtered set-similarity join (PPJoin-style): the
    // provably-complete candidate path. Global rarity order, per-doc
    // prefix index, length filter, exact verify — exact recall with the
    // hot-token bound by construction (rare tokens index, boilerplate
    // sorts to the suffix); q34 runs the same join under a df cap. See
    // [[prefixFilterPairs]].
    "q161_prefix_filter_join" -> ((s, dir) => {
      prefixFilterPairs(tokenSets(s, dir), 8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // --- MinHash + LSH dedup CERTIFICATION row: the query computes
    // BOTH pipelines in-engine — the LSH pairs ([[minhashLshPairs]])
    // and the exact-Jaccard truth (q34's capped generator + exact
    // verifier) — and emits one row relating them (precision is
    // structural; recall >= 0.9 overall and on planted pairs). Since
    // round 10 the oracle recomputes the SAME relationship genuinely:
    // q151's replicated HUGEINT hash chain rebuilds the LSH set, the
    // df-capped exact truth is re-derived, and every boolean is
    // evaluated from the oracle's own two sets — a recall or precision
    // regression fails the hash gate on an INDEPENDENT re-derivation,
    // not a pinned literal.
    "q35_minhash_lsh" -> ((s, dir) => {
      val docsets = shingleSets(s, dir)
      // `exact` feeds BOTH the found-pair join and its own count agg —
      // the memoized pair stage is already materialized, so both reads
      // hit the checkpoint (the pre-memo form measured 67s -> 35s at
      // sf0.1 from exactly this reuse)
      val exact = ngramJaccardPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
      val found = minhashLshPairsOf(docsets).select(col("doc_a"), col("doc_b"))
      val planted = col("doc_b") === col("doc_a") + PlantedOffset
      val marked = found.join(
        exact.withColumn("in_exact", lit(1)), Seq("doc_a", "doc_b"), "left")
      val f = marked.agg(
        count(lit(1)).as("n_found"),
        count(col("in_exact")).as("n_found_exact"),
        count(when(col("in_exact").isNotNull && planted, 1)).as("n_planted_found"))
      val e = exact.agg(
        count(lit(1)).as("n_exact"),
        count(when(planted, 1)).as("n_planted_exact"))
      e.crossJoin(f).select(
        col("n_exact"), col("n_planted_exact"),
        (col("n_found") === col("n_found_exact")).as("lsh_subset_ok"),
        (col("n_found_exact") >= col("n_exact") * 0.9).as("recall_ok"),
        (col("n_planted_found") >= col("n_planted_exact") * 0.9).as("planted_recall_ok"))
    }),

    // --- LSH band-parameter sweep (q208): the (bands x rows-per-band)
    // tuning table for the MinHash index — candidate volume, true-pair
    // hits, recall and precision per configuration over the SAME 16-hash
    // signature set. This is the measurement a pipeline runs BEFORE
    // committing an LSH layout to 100 TB: more/shorter bands buy recall
    // with candidate volume (shuffle + verify cost), fewer/longer bands
    // the reverse — the sweep makes the tradeoff a table instead of
    // folklore. Shapes: signatures and the exact df-capped truth are
    // each materialized ONCE (the truth is the expensive side, shared by
    // all configs); each config's candidate join is banded exactly like
    // [[minhashLshPairsOf]] (xxhash64 band keys = tuple-equality
    // bucketing, Σ bucket² exchange). r=1 (16 bands of one hash) is
    // deliberately excluded: a single-minhash bucket key degenerates to
    // "shares ANY minimum" and its bucket sizes are unbounded in corpus
    // size — the exact failure mode the sweep exists to warn about.
    "q208_lsh_param_sweep" -> ((s, dir) => {
      val docsets = shingleSets(s, dir)
      val truth = ngramJaccardPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
      val nTrue = truth.agg(count(lit(1)).as("true_pairs"))
      val sigs = docsets.select(col("doc_id") +:
        (0 until 16).map(j =>
          expr(s"array_min(transform(hs, h -> mix64(h ^ ${MinhashSeeds(j)}L)))")
            .as(s"s$j")): _*)
        .localCheckpoint() // three configs re-read the one signature pass
      val perConfig = Seq((8, 2), (4, 4), (2, 8)).map { case (nb, r) =>
        val bandKey = (b: Int) =>
          xxhash64((b * r until (b + 1) * r).map(j => col(s"s$j")): _*)
        val bands = sigs.select(col("doc_id"),
            posexplode(array((0 until nb).map(bandKey): _*)))
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
        val ca = bands.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
        val cb = bands.select(col("doc_id").as("doc_b"), col("band"), col("bkey"))
        val cand = ca.join(cb, Seq("band", "bkey"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b")).distinct()
          .localCheckpoint() // feeds its count AND the truth semi-join
        val nc = cand.agg(count(lit(1)).as("candidates"))
        val tp = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("tp"))
        nc.crossJoin(tp).select(lit(nb).as("bands"),
          lit(r).as("rows_per_band"), col("candidates"), col("tp"))
      }.reduce(_ unionAll _)
      perConfig.crossJoin(broadcast(nTrue))
        .withColumn("recall", expr(
          "CAST((2 * CAST(tp AS DECIMAL(38,0)) * 1000000 + greatest(true_pairs, 1)) " +
            "DIV (2 * CAST(greatest(true_pairs, 1) AS DECIMAL(38,0))) AS BIGINT)")
          .cast("double") / lit(1e6))
        .withColumn("prec", expr(
          "CAST((2 * CAST(tp AS DECIMAL(38,0)) * 1000000 + greatest(candidates, 1)) " +
            "DIV (2 * CAST(greatest(candidates, 1) AS DECIMAL(38,0))) AS BIGINT)")
          .cast("double") / lit(1e6))
        .select(col("bands"), col("rows_per_band"), col("candidates"),
          col("true_pairs"), col("tp"), col("recall"), col("prec"))
        .orderBy(col("bands").desc)
    }),

    // --- dedup threshold curve (q223): what fraction of the corpus a
    // near-dup pass would touch at Jaccard thresholds 0.5-0.8 — the
    // tuning table a pipeline reads before committing a threshold to
    // 100 TB (too low strips paraphrases, too high leaves templates).
    // The exact df-capped pair graph is built ONCE at the loosest
    // threshold (it carries jac); every tighter threshold is then a
    // CONDITIONAL SUM over that frame plus a per-doc max-jac rollup —
    // no second pair generation, no clustering. Threshold comparisons
    // hit the same IEEE division both engines compute (the q34/q59
    // HAVING form), so the cut is engine-exact.
    "q223_dedup_threshold_curve" -> ((s, dir) => {
      val docsets = shingleSets(s, dir)
      // memoized stage feeds the pair sums AND the endpoint rollup
      val pairs = ngramJaccardPairs(s, dir)
      val nCorpus = docsets.agg(count(lit(1)).as("n_corpus"))
      val ends = pairs.select(col("doc_a").as("doc"), col("jac"))
        .unionAll(pairs.select(col("doc_b").as("doc"), col("jac")))
        .groupBy(col("doc")).agg(max(col("jac")).as("mj"))
      val ts = Seq(0.5, 0.6, 0.7, 0.8)
      val pairAgg = pairs.agg(
        ts.map(t => sum(when(col("jac") >= t, 1L).otherwise(0L))
          .as(s"np_${(t * 10).toInt}")).head,
        ts.tail.map(t => sum(when(col("jac") >= t, 1L).otherwise(0L))
          .as(s"np_${(t * 10).toInt}")): _*)
      val docAgg = ends.agg(
        ts.map(t => sum(when(col("mj") >= t, 1L).otherwise(0L))
          .as(s"nd_${(t * 10).toInt}")).head,
        ts.tail.map(t => sum(when(col("mj") >= t, 1L).otherwise(0L))
          .as(s"nd_${(t * 10).toInt}")): _*)
      val wide = pairAgg.crossJoin(docAgg).crossJoin(broadcast(nCorpus))
      val rows = ts.map { t =>
        val k = (t * 10).toInt
        wide.select(lit(t).as("threshold"),
          col(s"np_$k").as("n_pairs"), col(s"nd_$k").as("n_docs_covered"),
          col("n_corpus"))
      }.reduce(_ unionAll _)
      rows.withColumn("doc_share", expr(
          "CAST((2 * CAST(n_docs_covered AS DECIMAL(38,0)) * 1000000 " +
            "+ n_corpus) DIV (2 * CAST(n_corpus AS DECIMAL(38,0))) AS BIGINT)")
          .cast("double") / 1e6)
        .select(col("threshold"), col("n_pairs"), col("n_docs_covered"),
          col("n_corpus"), col("doc_share"))
        .orderBy(col("threshold"))
    }),

    // --- SimHash dedup CERTIFICATION row: pairs from [[simhashPairs]];
    // the truth side is the planted (doc, doc+10000) pairs whose
    // Hamming distance is computed DIRECTLY from the two signatures (a
    // linear join on the id offset, no banding). Pigeonhole guarantee:
    // 4 bands of 16 bits catch EVERY pair with <= 3 differing bits —
    // exact; recall over planted pairs at <= 6 bits is >= 0.75 (the
    // 4..6-bit tail can dirty all four bands; measured ~0.9). Since
    // round 10 the oracle evaluates the same guarantees from q152's
    // replicated signature chain instead of pinning literals.
    "q36_simhash" -> ((s, dir) => {
      val docs = simhashDocs(s, dir)
      val found = simhashPairsStage(s, dir).select(col("doc_a"), col("doc_b"))
      val plantedPairs = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .join(docs.select((col("doc_id") - PlantedOffset).as("doc_a"),
          col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_a"))
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      val marked = plantedPairs.join(
        found.withColumn("in_found", lit(1)), Seq("doc_a", "doc_b"), "left")
      val p = marked.agg(
        count(when(col("hamming") <= 3 && col("in_found").isNull, 1)).as("n_le3_missed"),
        count(when(col("hamming") <= 6 && col("in_found").isNotNull, 1)).as("n_le6_found"),
        count(when(col("hamming") <= 6, 1)).as("n_le6"))
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(p).select(
        col("n_docs"),
        (col("n_le3_missed") === 0).as("guaranteed_le3_ok"),
        (col("n_le6_found") >= col("n_le6") * 0.75).as("planted_recall_ok"))
    }),

    // --- the MinHash-LSH pair list ITSELF, gated row-by-row: the
    // production artifact (q35 is its certification contract, paying 2x
    // to run the exact truth alongside). Possible because the whole hash
    // chain is engine-independent — FNV-1a shingle keys and the
    // mix64(h ^ seed_j) family are replicated exactly in the oracle's
    // HUGEINT arithmetic, and band-bucket equality is signature-tuple
    // equality. Every pair, its exact Jaccard, nothing boolean.
    "q151_minhash_pairs" -> ((s, dir) =>
      minhashLshPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))),

    // --- the SimHash pair list ITSELF, same promotion as q151: the
    // signature is FNV-1a token hashes + bit votes (SimHash64), the
    // banding is 4x16-bit sub-signatures, both exactly replicated in
    // DuckDB — so the q36 contract's operator output gets a full
    // row-level gate (pairs + exact Hamming distance).
    "q152_simhash_pairs" -> ((s, dir) =>
      simhashPairsStage(s, dir)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))),

    // --- brute-force cosine top-k: the exact-search baseline. The query
    // side (10 vectors) is broadcast, so the corpus scan never shuffles;
    // at 100 TB this is one pass over the corpus per query batch.
    // --- matryoshka-style truncated retrieval: rank with the FIRST HALF
    // of each embedding (the 100 TB trick — keep the prefix hot in
    // memory/SSD and the tail cold, halving the bytes every query
    // touches), and report the full-precision cosine of the same pairs so
    // the ranking drift is visible. Same shape as q37: queries broadcast,
    // corpus scanned once, never exchanged; ranking uses the ROUNDED
    // half score (plus nbr_id) so both engines order identically.
    "q89_matryoshka" -> ((s, dir) => {
      val e = vectors(s, dir, "vec_id")
        .withColumn("h", expr("slice(v, 1, size(v) div 2)"))
        .withColumn("nrm", expr(normOf("v")))
        .withColumn("hnrm", expr(normOf("h")))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("av"),
          col("h").as("ah"), col("nrm").as("anrm"), col("hnrm").as("ahnrm"))
      val c = e.select(col("vec_id").as("nbr_id"), col("v").as("bv"),
        col("h").as("bh"), col("nrm").as("bnrm"), col("hnrm").as("bhnrm"))
      // the matryoshka point made structural: the CHEAP half-dim score
      // ranks the whole pair stream inside a bounded-heap aggregate (the
      // q37 shape — no query_id window sorting a corpus per task), and
      // the EXPENSIVE full-dim score is computed only for the anchors x k
      // survivors on the join-back — at 100 TB the full-dim read is
      // 50 pairs, not n x anchors.
      val pairs = c.join(broadcast(q.select(col("query_id"), col("ah"), col("ahnrm"))),
          col("query_id") =!= col("nbr_id"))
        .withColumn("score_half", round(
          expr("vec_dot(ah, bh)") / (col("ahnrm") * col("bhnrm")), 4))
      ranked(pairs, 5, Seq("query_id"), col("score_half"), col("nbr_id"), "nbr_id",
          "score_half")
        .join(c.select(col("nbr_id"), col("bv"), col("bnrm")), Seq("nbr_id"))
        .join(broadcast(q.select(col("query_id"), col("av"), col("anrm"))),
          Seq("query_id"))
        .withColumn("score_full",
          round(expr(dotSql) / (col("anrm") * col("bnrm")), 4))
        .select(col("query_id"), col("nbr_id"), col("score_half"),
          col("score_full"), col("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    "q37_knn_cosine" -> ((s, dir) => {
      // norms project BEFORE the join: computed once per VECTOR on the
      // scan side (n + q sqrt-folds), not once per PAIR after it (n*q);
      // the per-pair work is the dot product alone. Bit-identical scores:
      // same fold, same multiply, just hoisted. Top-k is the BOUNDED-HEAP
      // aggregate (q107's TopK), not row_number over a window: a window
      // keyed by query_id funnels each anchor's ENTIRE corpus pair
      // stream through one sort task at 100 TB, while the heap keeps k
      // pairs per partial buffer and the exchange carries O(anchors x k).
      // Identical semantics: beats() is exactly (score DESC, nbr_id ASC).
      val e = withNorm(vectors(s, dir, "vec_id"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("av"), col("nrm").as("anrm"))
      val c = e.select(col("vec_id").as("nbr_id"), col("v").as("bv"), col("nrm").as("bnrm"))
      val pairs = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
        .withColumn("score", round(expr(dotSql) / (col("anrm") * col("bnrm")), 4))
      ranked(pairs, 5, Seq("query_id"), col("score"), col("nbr_id"), "nbr_id")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // --- int8 vector quantization + top-k over the quantized space: the
    // 4x memory/bandwidth reduction a 100 TB embedding store actually
    // ships (per-vector max-abs scale, symmetric round-to-int8), with
    // search executed entirely on the quantized integers. Integer dot
    // products are exact in double (|dot| <= dim * 127^2), so the scores
    // are engine-independent and the whole query is DuckDB-oracled —
    // quantization error shows up only as score differences vs q37.
    "q66_int8_topk" -> ((s, dir) => {
      // the quantized ints re-project to a double array on the SCAN side
      // so the per-pair dot is the codegen'd vec_dot (same cast-then-
      // multiply fold the zip_with HOF ran, just compiled); top-k is the
      // q107 bounded-heap aggregate — see q37 for why a query_id window
      // does not survive 100 TB.
      val e = vectors(s, dir, "vec_id")
        .withColumn("mx", expr("aggregate(v, 0.0D, (acc, x) -> greatest(acc, abs(x)))"))
        .filter(col("mx") > 0)
        .withColumn("qv", expr(
          "transform(v, x -> CAST(CAST(round(x * 127.0D / mx) AS INT) AS DOUBLE))"))
        .withColumn("qn", expr(normOf("qv")))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("qn").as("qna"))
      val c = e.select(col("vec_id").as("nbr_id"), col("qv").as("qb"), col("qn").as("qnb"))
      val pairs = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
        .withColumn("score",
          round(expr("vec_dot(qa, qb)") / (col("qna") * col("qnb")), 4))
      ranked(pairs, 5, Seq("query_id"), col("score"), col("nbr_id"), "nbr_id")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // --- embedding near-dup detection, blocked: candidates share
    // (label, floor(normalized-first-component * 50)), so comparisons
    // scale with Σ bucket² — the LSH-style scale path — while the planted
    // 2x-scaled copies land in the same bucket deterministically.
    "q38_dedup_embedding" -> ((s, dir) => {
      // per-vector norm projected once, reused by the bucket AND the score
      val e = withNorm(plantedVecs(s, dir))
        .withColumn("bkt", floor(expr("element_at(v, 1)") / col("nrm") * 50))
      val a = e.select(col("vec_id").as("vec_a"), col("label"), col("bkt"),
        col("v").as("av"), col("nrm").as("anrm"))
      val b = e.select(col("vec_id").as("vec_b"), col("label"), col("bkt"),
        col("v").as("bv"), col("nrm").as("bnrm"))
      a.join(b, Seq("label", "bkt")).filter(col("vec_a") < col("vec_b"))
        .withColumn("score", round(expr(dotSql) / (col("anrm") * col("bnrm")), 4))
        .filter(col("score") >= 0.99)
        .select(col("vec_a"), col("vec_b"), col("score"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // --- ANN via random-hyperplane LSH: the standard L-table banding —
    // L=8 independent tables of B=4 Rademacher hyperplanes each (planes
    // from a fixed LCG), candidates = union over tables of same-bucket
    // pairs, exact cosine inside. Fully hash-gated: the LCG is pure
    // 64-bit arithmetic, so the oracle replicates the planes in HUGEINT
    // SQL and recomputes the whole index — no pinned booleans needed. One table of 8 bits has
    // ~p^8 collision probability for the true neighbors (recall ~10% on
    // this corpus); 8 tables of 4 bits give 1-(1-p^4)^8 (~70%) at the same
    // per-table selectivity — the classic recall/cost dial. The scale
    // path: corpus exploded xL, joined on (table, bucket); candidate count
    // is L * Sigma bucket^2, never corpus^2, and B grows with corpus
    // density to keep buckets bounded.
    "q39_ann_lsh" -> ((s, dir) => {
      val L = 8; val B = 4
      val planes: Column = array((0 until L * B).map { j =>
        array((0 until 64).map { i =>
          // deterministic ±1 from a fixed multiplicative LCG (seed = j*64+i)
          val x = (j * 64 + i + 1) * 6364136223846793005L + 1442695040888963407L
          lit(if (((x >>> 33) & 1L) == 1L) 1.0 else -1.0)
        }: _*)
      }: _*)
      val e = vectors(s, dir, "vec_id")
        .withColumn("planes", planes)
        .select(col("vec_id"), col("v"), explode(expr(
          s"""transform(sequence(0, ${L - 1}), t -> named_struct(
                'tbl', t,
                'bucket', aggregate(sequence(0, ${B - 1}), 0, (acc, b) -> acc + CASE WHEN
                  vec_dot(v, element_at(planes, t * $B + b + 1)) > 0
                  THEN CAST(pow(2, b) AS INT) ELSE 0 END)))"""))
          .as("tb"))
        .select(col("vec_id"), col("v"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        .withColumn("nrm", expr(normOf("v"))) // once per (vector, table) row, not per pair
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("av"),
          col("nrm").as("anrm"), col("tbl"), col("bucket"))
      val c = e.select(col("vec_id").as("nbr_id"), col("v").as("bv"),
        col("nrm").as("bnrm"), col("tbl"), col("bucket"))
      // candidate ranking is the q37 bounded-heap TopK, not a query_id
      // window — a hot LSH bucket at scale would otherwise sort its
      // whole candidate stream in one task. The dropDuplicates exchange
      // (the union of the L tables) already keys by query_id, so the
      // aggregate's partial buffers sit on co-partitioned data.
      val pairs = c.join(broadcast(q), Seq("tbl", "bucket"))
        .filter(col("query_id") =!= col("nbr_id"))
        .select(col("query_id"), col("nbr_id"), col("av"), col("bv"),
          col("anrm"), col("bnrm"))
        .dropDuplicates("query_id", "nbr_id") // union of the L tables
        .withColumn("score", round(expr(dotSql) / (col("anrm") * col("bnrm")), 4))
      ranked(pairs, 3, Seq("query_id"), col("score"), col("nbr_id"), "nbr_id")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // --- multimodal column plumbing: text bytes stand in for an opaque
    // media blob; the "decode" is the deterministic stub MultimodalOps
    // runs per-partition (the real image/audio libs are absent by design).
    "q40_multimodal" -> ((s, dir) =>
      MultimodalOps.extractFeatures(
        Tables.documents(s, dir).select(col("doc_id"),
          col("text").cast(BinaryType).as("blob")))
        .orderBy(col("doc_id"))),

    // --- mp4 container metadata by real ISO-BMFF atom walk. Round-trip
    // contract: the engine constructs genuine container bytes from row
    // values (MultimodalOps.mkMp4), the atom walk parses them back, and
    // the oracle recomputes every field arithmetically — so mvhd
    // timescale/duration scaling and the 16.16 tkhd dims are verified
    // field-for-field. Map-side only; at 100 TB this is the pre-decode
    // filter pass (drop zero-duration/tiny-dim videos before any codec
    // cost), parallelism = input splits.
    "q115_mp4_probe" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 320 + (id % 64).toInt * 16
          val h = 240 + (id % 36).toInt * 16
          (id, MultimodalOps.mkMp4(1000L + (id % 7) * 100L, id * 37L + 1000L, w, h))
        }).toDF("doc_id", "blob")
        .transform(MultimodalOps.probeVideoBatch)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("duration_ms"), col("n_tracks"))
        .orderBy(col("doc_id"))
    }),

    // --- perceptual image dedup (average-hash): each doc renders a REAL
    // 16x16 grayscale PNG (seed = doc_id % 40 plants 40 duplicate
    // groups), the engine decodes the bytes back and average-hashes the
    // pixels; identical hashes group and the minimum doc_id is the
    // canonical copy — the image-side sibling of q33's exact text dedup.
    // Round-trip contract (q115's shape): PNG encode -> ImageIO decode ->
    // 2x2 pool -> integer threshold is real byte plumbing, while the
    // oracle replays the pixel FORMULA arithmetically — a decode or
    // color-space bug cannot hash-match. Scale: hashing is map-side; the
    // one shuffle carries (ahash) keys bounded by distinct images, and
    // group state is a (min, count) pair per hash — never pixel data.
    "q123_image_ahash_dedup" -> ((s, dir) => {
      import s.implicits._
      // repartition before the decode (the local corpus is one input
      // split; at scale splits spread it) + localCheckpoint across the
      // groups/join branch scans — eager materialization whose blocks
      // the ContextCleaner reclaims when the frame is unreferenced,
      // unlike persist() entries that would pile up in the CacheManager
      // across a 127-query session
      val hashed = spreadScan(
          Tables.documents(s, dir).select(col("doc_id")).as[Long])
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map(id =>
            (id, MultimodalOps.aHash(MultimodalOps.mkGrayPng(id % 40))))
        }.toDF("doc_id", "ahash").localCheckpoint()
      val groups = hashed.groupBy(col("ahash"))
        .agg(min(col("doc_id")).as("canonical"), count(lit(1)).as("group_sz"))
      hashed.join(groups, Seq("ahash"))
        .withColumn("is_dup", col("doc_id") =!= col("canonical"))
        .select(col("doc_id"), col("ahash"), col("canonical"),
          col("group_sz"), col("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // --- image RESIZE (box-filter thumbnail): the decode -> downsample
    // step of an image ingestion pipeline, on REAL PNG bytes through
    // ImageIO with the resampling arithmetic kept integral so the
    // oracle replicates it from the gradient formula. Emits the 4x4
    // thumbnail pixels (comma-joined, row-major) plus luma stats —
    // i.e. the actual resized payload, where q123 emits only threshold
    // bits. Scale: decode+resize is map-side per partition (splits
    // spread it at 100 TB; repartition spreads the one local split);
    // nothing shuffles but the final order for the gate.
    "q148_image_resize" -> ((s, dir) => {
      import s.implicits._
      spreadScan(
          Tables.documents(s, dir).select(col("doc_id")).as[Long])
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val t = MultimodalOps.resizeBox(MultimodalOps.mkGrayPng(id % 40), 4)
            (id, t.mkString(","), t.sum / t.length, t.max, t.min)
          }
        }.toDF("doc_id", "thumb", "mean_luma", "max_luma", "min_luma")
        .orderBy(col("doc_id"))
    }),

    // --- Shot-boundary detection (q198): temporal segmentation of a
    // 12-frame synthetic clip per doc — the video-side sampling step
    // of a multimodal pipeline (pick one keyframe per shot instead of
    // decoding every frame downstream). Each frame is a REAL PNG
    // (mkGrayPng, seed advances every L = 3 + doc_id%3 frames) decoded
    // and average-hashed frame-by-frame; a boundary fires where the
    // aHash changes. Round-trip contract (q115/q123's shape): the
    // oracle derives the shot count arithmetically (ceil(12/L)) and
    // the first frame's hash via the q123 pixel-formula bit chain — an
    // aHash collision between adjacent shots, or any decode bug, would
    // merge shots and fail the gate. Map-side only (12 encode+decode
    // per row, parallelism = input splits); the only exchange is the
    // final sort.
    "q198_shot_boundaries" -> ((s, dir) => {
      import s.implicits._
      spreadScan(
          Tables.documents(s, dir).select(col("doc_id")).as[Long])
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          // Per-task decode memo (r17, guide §1.2 per-task work): the
          // clip generator produces frame f from seed (id%40) +
          // 97*(f/shotLen), so a task re-encodes and re-decodes the
          // SAME frame image thousands of times — the per-frame
          // BufferedImage/PNG-buffer churn was 7.6 s of task GC at
          // sf0.1. Hashing per DISTINCT frame seed is the exact
          // dedup-identical-frames-before-decode step of a real video
          // pipeline (and the same distinct-before-expensive-work move
          // subwordCountsBuild makes for MaxMatch): the memo holds one
          // 64-char string per distinct frame (bounded by the
          // generator's seed space per task), and every emitted row is
          // the same pure function of id as before.
          val memo = new java.util.HashMap[Long, String]()
          def hashOf(seed: Long): String = {
            val hit = memo.get(seed)
            if (hit != null) hit
            else {
              val h = MultimodalOps.aHash(MultimodalOps.mkGrayPng(seed))
              memo.put(seed, h)
              h
            }
          }
          it.map { id =>
            val shotLen = 3 + (id % 3).toInt
            val hs = (0 until 12).map(f => hashOf((id % 40) + 97L * (f / shotLen)))
            val nShots = 1L + (1 until 12).count(f => hs(f) != hs(f - 1))
            (id, 12L, nShots, hs.head)
          }
        }.toDF("doc_id", "n_frames", "n_shots", "first_ahash")
        .withColumn("mean_shot_len", expr(
          s"CAST(${graft.operators.GovernanceQueries.gridDiv("n_frames", "n_shots")} AS DOUBLE) / 1000000.0"))
        .select(col("doc_id"), col("n_frames"), col("n_shots"),
          col("mean_shot_len"), col("first_ahash"))
        .orderBy(col("doc_id"))
    }),

    // --- NEAR-duplicate images: banded Hamming join over the q123
    // average-hash — the image-side sibling of q36's SimHash bands,
    // with the same pigeonhole guarantee (64 bits in 4 bands of 16:
    // hashes <= 3 bits apart MUST agree on a whole band). Planted
    // near-dups: a one-pixel perturbation (delta = (doc_id%3)*40 on
    // pixel (0,0)) flips at most a few hash bits, so same-seed docs
    // land within the Hamming radius while different seeds stay out.
    // Engine + the band df-cap that makes this survive sf0.1 (and
    // 100 TB): [[ahashNearDupPairs]].
    // repartition BEFORE the decode: the local corpus reads as one
    // split, which would serialize 5k PNG encode+decodes (at scale,
    // input splits spread this for free); localCheckpoint the tiny
    // (doc_id, ahash) frame so the band/cap/self-join branches scan it
    // from memory instead of re-rendering pixels per branch (20.7 s ->
    // ~1 s at sf0.1) — and its blocks free with the frame, not at
    // session end like a persist() entry would.
    "q124_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val hashed = spreadScan(
          Tables.documents(s, dir).select(col("doc_id")).as[Long])
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map(id => (id, MultimodalOps.aHash(
            MultimodalOps.mkGrayPng(id % 40, (id % 3).toInt * 40))))
        }.toDF("doc_id", "ahash").localCheckpoint()
      ahashNearDupPairs(hashed, BandDfCap)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // --- robust audio-fingerprint dedup, completing the modality triple
    // (q33 text, q123 image): each doc renders real PCM-16 WAV bytes
    // (seed = doc_id % 30 plants groups, a small DC offset doc_id % 4
    // perturbs the raw bytes), the engine RIFF-walks the samples back
    // and fingerprints sign-of-energy-delta over 64-sample frames — the
    // classic acoustic hash, exact integer arithmetic end to end. Docs
    // whose BYTES differ but whose fingerprints agree dedup together:
    // that byte-vs-robust gap is the point of perceptual hashing, and
    // the oracle (an arithmetic replay of the sample formula) gates
    // exactly where the gap lands. Scale: fingerprinting is map-side;
    // the one shuffle carries fingerprint keys, state is (min, count).
    "q125_audio_fp_dedup" -> ((s, dir) => {
      import s.implicits._
      val fp = spreadScan(
          Tables.documents(s, dir).select(col("doc_id")).as[Long])
        .mapPartitions(_.map(id => (id, MultimodalOps.audioFingerprint(
          MultimodalOps.mkWav16(id % 30, (id % 4).toInt * 7, 4096)))))
        .toDF("doc_id", "fp").localCheckpoint()
      val groups = fp.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("canonical"), count(lit(1)).as("group_sz"))
      fp.join(groups, Seq("fp"))
        .withColumn("is_dup", col("doc_id") =!= col("canonical"))
        .select(col("doc_id"), col("fp"), col("canonical"),
          col("group_sz"), col("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // --- SEMANTIC decontamination (the embedding-level sibling of q80's
    // n-gram decontamination): flag corpus vectors whose cosine to ANY
    // eval-benchmark vector reaches 0.95 — paraphrased eval leakage that
    // token overlap misses. Planted leakage (2x-scaled copies of eval
    // vectors, cosine exactly 1.0) exercises the contaminated branch.
    // The eval side is a BENCHMARK: fixed-size and corpus-independent
    // (KBs–MBs at any corpus scale), so broadcasting it is the right
    // call — unlike the corpus-sized sides this library deliberately
    // leaves unhinted. The nearest-eval argmax is one partial-agged
    // max(struct(score, -eval_id)): a single row per corpus vector
    // leaves the map side, so the n_corpus x n_eval pair stream is
    // never shuffled (a window or max+join-back would shuffle it all).
    "q127_semantic_decontam" -> ((s, dir) => {
      val e = vectors(s, dir, "vec_id")
      val eval = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("eval_id"), col("v").as("av"))
        .withColumn("anrm", expr(normOf("av")))
      val leaked = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 50)
        .select((col("vec_id") + 100000).as("vec_id"),
          expr("transform(v, x -> x * 2.0D)").as("bv"))
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id"), col("v").as("bv"))
        .union(leaked)
        .withColumn("bnrm", expr(normOf("bv")))
      corpus.crossJoin(broadcast(eval))
        .withColumn("score",
          round(expr(dotSql) / (col("anrm") * col("bnrm")), 4))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("score"), (-col("eval_id")).as("neg"))).as("m"))
        .select(col("vec_id"), (-col("m.neg")).as("eval_id"),
          col("m.score").as("score"),
          (col("m.score") >= 0.95).as("contaminated"))
        .orderBy(col("vec_id"))
    }),

    // --- hard-example mining for contrastive embedding training: for
    // each anchor (vec_id < 10) the HARD NEGATIVE is the highest-cosine
    // corpus vector with a DIFFERENT label (the near-miss that teaches
    // the margin) and the HARD POSITIVE is the lowest-cosine vector with
    // the SAME label (the far in-class example a batch sampler should
    // surface). Both are label-gated conditional argmaxes folded into
    // ONE partial agg over the broadcast pair stream — the q127 shape
    // twice over: max/min(struct) behind when(), so one row per anchor
    // leaves the map side and the n x anchors stream never shuffles.
    // At 100 TB this is the mining pass of every embedding-model
    // training loop; the anchor side is a batch (bounded), broadcast.
    "q128_hard_negatives" -> ((s, dir) => {
      val e = withNorm(vectors(s, dir, "vec_id", "label"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("v").as("av"), col("nrm").as("anrm"))
      val c = e.select(col("vec_id").as("nbr_id"), col("label").as("nlabel"),
        col("v").as("bv"), col("nrm").as("bnrm"))
      c.crossJoin(broadcast(q)).filter(col("query_id") =!= col("nbr_id"))
        .withColumn("score", round(expr(dotSql) / (col("anrm") * col("bnrm")), 4))
        .groupBy(col("query_id"), col("qlabel"))
        .agg(
          max(when(col("nlabel") =!= col("qlabel"),
            struct(col("score"), (-col("nbr_id")).as("neg")))).as("hn"),
          min(when(col("nlabel") === col("qlabel"),
            struct(col("score"), col("nbr_id").as("pos")))).as("hp"))
        .select(col("query_id"), col("qlabel").as("label"),
          (-col("hn.neg")).as("hard_neg_id"), col("hn.score").as("hard_neg_score"),
          col("hp.pos").as("hard_pos_id"), col("hp.score").as("hard_pos_score"))
        .orderBy(col("query_id"))
    }),

    // --- ANN via IVF: coarse cells from per-label centroids computed by
    // the typed CentroidFixed Aggregator (custom UDAF with map-side
    // partial agg, FIXED-POINT accumulation so the centroid is
    // bit-deterministic under any partitioning — which is what lets this
    // query be hash-gated against the DuckDB oracle rather than
    // rows-only); queries probe only their nearest cell's posting list.
    // At scale the centroid table is tiny (cells x dim) and broadcast;
    // the corpus is scanned once to assign cells, once to probe.
    "q46_ann_ivf" -> ((s, dir) => {
      val e = withNorm(vectors(s, dir, "vec_id", "label"))
      val cells = labelCells(e)
      // assign every vector (and query) to its nearest centroid by cosine:
      // a broadcast CROSS join against the (tiny) centroid table — each
      // vector scores ALL cells, argmax wins. (An equi-join on label here
      // would silently degrade cell assignment to "own label".) The
      // argmax is the q127 partial-agg shape — max(struct(score, -cell))
      // with the vector payload riding along — so ONE row per vector
      // leaves the map side and the n x cells pair stream is never
      // exchanged (a row_number window here would hash-shuffle every
      // pair row on vec_id before discarding cells-1 of every cells; at
      // a realistic IVF cell count that is a k x-corpus shuffle). The
      // (score, -cell) prefix is a unique key per vector, so the struct
      // comparison never reaches the v/nrm payload fields.
      val withCell = nearestCell(cellScores(e, cells), "v", "nrm")
      val q = withCell.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("av"),
          col("nrm").as("anrm"), col("cell"))
      val c = withCell.select(col("vec_id").as("nbr_id"), col("v").as("bv"),
        col("nrm").as("bnrm"), col("cell"))
      // probe ranking is the q37 bounded-heap TopK — a query_id window
      // would sort each query's whole posting list in one task, and an
      // IVF cell at 100 TB is corpus/cells rows
      val pairs = c.join(broadcast(q), Seq("cell")).filter(col("query_id") =!= col("nbr_id"))
        .withColumn("score", round(expr(dotSql) / (col("anrm") * col("bnrm")), 4))
      ranked(pairs, 3, Seq("query_id"), col("score"), col("nbr_id"), "nbr_id")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // --- multi-probe IVF (nprobe = 2): the recall knob every production
    // IVF store ships — a query whose true neighbor sits just across a
    // cell boundary finds it by probing its top-2 cells instead of 1,
    // paying 2x probe cost for the recall tail. Same scale shapes as
    // q46 throughout: cell assignment is the partial-agg argmax, the
    // query-side top-2 cells come from the bounded-heap TopK over the
    // (tiny) query x cells stream, candidates join by cell equi-key
    // against the broadcast 2-rows-per-query probe table (a corpus
    // vector lives in exactly ONE cell, so probing 2 distinct cells
    // can never duplicate a candidate), and the final top-3 is again
    // the bounded heap. Zero windows, zero pair-stream exchanges.
    "q131_ann_ivf_multiprobe" -> ((s, dir) => {
      val e = withNorm(vectors(s, dir, "vec_id", "label"))
      val scored = cellScores(e, labelCells(e))
      val withCell = nearestCell(scored, "v", "nrm")
      val probes = probeCells(scored.filter(col("vec_id") < 10), "query_id")
      val q = withCell.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("av"),
          col("nrm").as("anrm"))
      val qp = probes.join(q, Seq("query_id")) // 2 rows per query
      val c = withCell.select(col("vec_id").as("nbr_id"), col("v").as("bv"),
        col("nrm").as("bnrm"), col("cell"))
      val pairs = c.join(broadcast(qp), Seq("cell")).filter(col("query_id") =!= col("nbr_id"))
        .withColumn("score", round(expr(dotSql) / (col("anrm") * col("bnrm")), 4))
      ranked(pairs, 3, Seq("query_id"), col("score"), col("nbr_id"), "nbr_id")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // --- product quantization ANN (PQ / ADC): the compression path of a
    // production vector store — 64 float32s (256 bytes) become M=8 code
    // bytes per vector by quantizing each 8-dim subvector to its nearest
    // sub-centroid, and queries rank candidates by ASYMMETRIC distance
    // (exact query vector vs the candidate's reconstructed codeword), so
    // the serving index is 32x smaller while the query side loses no
    // precision. Codebooks are the per-label sub-centroids in the same
    // order-independent fixed-point arithmetic as q46 (CentroidFixed),
    // so the oracle can replicate them exactly in HUGEINT SQL. Scale
    // shapes: the codebook is 80 tiny rows (broadcast everywhere); encode
    // is a broadcast join + the q127 partial-agg argmin keyed by
    // (vec_id, m) — the n x codes stream is never exchanged, the encode
    // shuffle carries M rows per vector; reconstruction is one more
    // M-rows-per-vector groupBy; the probe is the q37 bounded-heap TopK
    // whose exchange carries queries x k rows. Distances on both engines
    // are the SAME expression tree (nv + nc - 2*dot, index-order folds)
    // so the argmin and the rounded output agree bit-for-bit.
    "q132_ann_pq" -> ((s, dir) => {
      val (codebook, enc) = pqEncode(s, dir)
      val e = vectors(s, dir, "vec_id")
      // what PQ serving stores is (vec_id, 8 codes); the reconstruction
      // below is the decode the ADC distance implicitly runs against
      val recon = pqDecode(enc, codebook).withColumn("nr", expr("vec_dot(rv, rv)"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("av"))
        .withColumn("nq", expr("vec_dot(av, av)"))
      val cand = recon.select(col("vec_id").as("nbr_id"), col("rv").as("bv"), col("nr"))
        .crossJoin(broadcast(q)).filter(col("query_id") =!= col("nbr_id"))
        .withColumn("dist", round(col("nq") + col("nr") - lit(2) * expr(dotSql), 4))
      rankedByDist(cand).orderBy(col("query_id"), col("rnk"))
    }),

    // --- IVF-PQ: the production serving architecture (FAISS IVFPQ) that
    // composes the two index halves this engine already ships — q131's
    // coarse quantizer picks nprobe=2 cells per query, and q132's product
    // quantizer compresses what's INSIDE each cell, with the PQ codebook
    // trained on RESIDUALS (v - cell centroid) the way the real index
    // does: residuals are centered near zero, so the 8-dim sub-codebooks
    // spend their codes on the part of the vector the coarse cell didn't
    // explain. Every stage keeps its proven scale shape: assignment and
    // encode are partial-agg argmins over broadcast tables (no pair
    // stream ever exchanged), the residual codebook is CentroidFixed
    // fixed-point (hash-gateable), candidates meet queries by cell
    // equi-key against a broadcast 2-rows-per-query probe table, and the
    // ADC ranking reconstructs the full residual codeword (deterministic
    // sorted flatten) so the distance is ONE index-order dot — no
    // order-dependent 8-term float sum.
    "q145_ann_ivfpq" -> ((s, dir) => ivfpq(s, dir, checkpoint = true)),

    // --- HYBRID RETRIEVAL (the RAG serving query): BM25-shaped lexical
    // scoring and dense cosine retrieval fused by reciprocal-rank (RRF,
    // c = 60) over the ALIGNED doc_id/vec_id domains. Scale shapes: the
    // lexical arm is ONE map-side corpus scan — per-term tf via
    // size(filter(tk, ...)) columns, never an explode — whose only
    // exchange is the bounded-heap top-20; the dense arm is q37's
    // broadcast-query scan + top-20; fusion joins two 20-row lists.
    // Zero windows, zero corpus self-joins, exchanges carry O(k) rows.
    // Cross-engine float discipline: the whole BM25 chain lives on
    // INTEGER grids (the q117/q137 rule — round(a/n, 6) on a ratio of
    // small integers is a latent half-grid flake, so every rounded
    // ratio is instead the exact half-up division (2*a*10^6 + n) div
    // (2n)). BM25 constants are exact rationals (k1 = 6/5, b = 3/4),
    // so each term is ridf_e6 * sat_e6 — an exact BIGINT in 1e-12
    // units — and the only doubles anywhere are one deterministic
    // BIGINT->DOUBLE cast per arm (identical round-to-nearest on both
    // engines), never a float expression that can drift. At corpus
    // scale the e6 numerators stay under 2^63 up to ~10^9 docs; past
    // that the same chain runs on DECIMAL(38,0)/HUGEINT.
    "q150_hybrid_retrieval" -> ((s, dir) => {
      val terms = Seq("join", "filter", "hash")
      val toks = withTokens(Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id") +: expr("CAST(size(tk) AS BIGINT)").as("dl") +:
          terms.map(t =>
            expr(s"CAST(size(filter(tk, x -> x = '$t')) AS BIGINT)").as(s"tf_$t")): _*)
      val totals = toks.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("total_len") +:
        terms.map(t => sum(when(col(s"tf_$t") > 0, 1).otherwise(0)).as(s"df_$t")): _*)
      // normalized doc length half-up on the 1e-6 grid: dl * N / L
      val scored = toks.crossJoin(broadcast(totals))
        .withColumn("nrm_e6",
          expr("(2000000 * dl * n_docs + total_len) div (2 * total_len)"))
      // idf = (N - df + 1/2)/(df + 1/2) = (2(N-df)+1)/(2df+1);
      // saturation = (k1+1)tf / (tf + k1(1-b) + k1*b*nrm)
      //            = 22e6*tf / (1e7*tf + 3e6 + 9*nrm_e6)
      // — both half-up to the 1e-6 grid, the product exact in 1e-12
      val termScore = terms.map { t =>
        val ridf = expr(s"(2000000 * (2 * (n_docs - df_$t) + 1) + (2 * df_$t + 1))" +
          s" div (2 * (2 * df_$t + 1))")
        val den = s"(10000000 * tf_$t + 3000000 + 9 * nrm_e6)"
        val sat = expr(s"(44000000000000 * tf_$t + $den) div (2 * $den)")
        ridf * sat
      }.reduceLeft(_ + _)
      // the heap ranks doubles, so the exact 1e-12-unit BIGINT casts to
      // DOUBLE right before ranking: long->double is round-to-nearest
      // in BOTH engines, so even scores past 2^53 land on identical
      // doubles and identical ranks; the oracle replicates the cast
      val lex = ranked(scored.withColumn("ls_e12", termScore).filter(col("ls_e12") > 0),
          20, Nil, col("ls_e12").cast("double"), col("doc_id"), "doc_id")
        .select(col("doc_id"), col("rnk").as("l_rank"))
      val e = withNorm(vectors(s, dir, "vec_id"))
      val qv = e.filter(col("vec_id") === 0)
        .select(col("v").as("av"), col("nrm").as("anrm"))
      val dense = ranked(e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
          .withColumn("score", round(expr("vec_dot(av, v)") / (col("anrm") * col("nrm")), 6)),
          20, Nil, col("score"), col("vec_id"), "doc_id")
        .select(col("doc_id"), col("rnk").as("d_rank"))
      // RRF arms half-up on the 1e-6 grid: 1/(60+rank); the arm sum is
      // an exact integer whose final /1e6 double division is identical
      // on both engines (1e6 is a power-of-two-free exact double, and
      // int->double division rounds the same everywhere)
      lex.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("fused",
          (coalesce(expr("(2000000 + (60 + l_rank)) div (2 * (60 + l_rank))"), lit(0L)) +
           coalesce(expr("(2000000 + (60 + d_rank)) div (2 * (60 + d_rank))"), lit(0L)))
            .cast("double") / lit(1000000.0))
        .select(col("doc_id"), col("l_rank"), col("d_rank"), col("fused"))
        .orderBy(col("fused").desc, col("doc_id"))
    }),

    // --- kNN-GRAPH construction (k = 5) over the planted vector corpus:
    // the all-nodes generalization of q46's 10-query probe and the
    // building block of graph ANN (HNSW / NN-descent seeding), vector
    // near-dup clustering, and corpus-scale hard-negative mining. Every
    // node multi-probes its top-2 IVF cells — on the BUILD side this
    // time: the probe table is corpus-sized, so unlike q46/q131 it is
    // NOT broadcast. Candidates meet probes in a cell-keyed shuffle join
    // whose volume is Σ|cell|·|probes(cell)| — the intrinsic blocked
    // kNN-graph cost (bounded by picking cells ~ √n; a hot cell is
    // AQE-splittable because the per-node ranking below is a partial
    // aggregate, not a window). Per-node ranking is the bounded-heap
    // TopK: candidate rows die map-side and the only per-node exchange
    // carries n x k rows. The per-vec payload (v, nrm) rides through the
    // probe aggregate as first() — constant within a vec_id group — so
    // the corpus is never re-joined to itself on vec_id.
    //
    // Cells are LABEL-STRATIFIED and SCALE-ADAPTIVE (round 10): the
    // original fixed 10-label-centroid cells made the blocked pair
    // volume Σ|cell|·|probes| grow ~n²/C — ScaleProbe measured 84 s at
    // ×10, the quadratic curve — so each label now contributes
    // ⌈√n / |labels|⌉ seed vectors (its smallest vec_ids, picked by the
    // bounded-heap TopK partial aggregate: exchange = labels × quota
    // rows, never a window), giving total cells ≥ max(|labels|, ⌈√n⌉)
    // and the ~n^1.5 curve of q155 while the seed QUOTA still respects
    // the label structure (every label region keeps ≥1 cell even if it
    // holds a vanishing fraction of the corpus — pure √n seeding by
    // global id order, q155, offers no such floor).
    //
    // Contract (q35/q36 tier): a planted 2x-scaled copy is BIT-IDENTICAL
    // to its original after normalization (powers of two are exact in
    // IEEE), so for ANY fixed deterministic cell table copy and original
    // share the same cell argmax and the same probe list — co-bucketing
    // is structural under cell refinement, and the pair's cosine rounds
    // to exactly 1.0, the maximum, so the copy lands in the original's
    // top-5 (eviction would need five OTHER candidates at 1.0000, i.e.
    // five near-identical corpus vectors — not a property of the
    // synthetic corpus). degree_ok additionally certifies refinement
    // left no starved cells (every node still finds a full 5 neighbors
    // in its probed cells). n_nodes/n_edges are genuine oracle
    // arithmetic; the booleans pin recall and graph completeness.
    "q146_knn_graph" -> ((s, dir) => {
      val e = withNorm(plantedVecs(s, dir))
      val edges = knnGraphEdges(s, e, stratifiedCells(s, e))
      val nodes = e.agg(count(lit(1)).as("n_nodes"))
      val es = edges.agg(count(lit(1)).as("n_edges"),
        count(when(col("nbr_id") === col("src_id") + 100000L, 1)).as("n_pl"))
      nodes.crossJoin(es).select(
        col("n_nodes"), col("n_edges"),
        (col("n_edges") === col("n_nodes") * 5).as("degree_ok"),
        (col("n_pl") === col("n_nodes") / 2).as("planted_recall_ok"))
    }),

    // --- kNN graph with UNSTRATIFIED √n cells: C = ceil(sqrt(n)) seeds
    // taken from the C globally smallest vec_ids (deterministic,
    // oracle-replicable ORDER BY + LIMIT — a real deployment would
    // k-means them, q138's Lloyd step; seeding changes recall, not the
    // plan shape), so pair volume Σ|cell|·|probes| stays ~n^1.5 with
    // 2-probe recall — the IVF sizing rule every vector store applies.
    // q146 applies the same √n total under a PER-LABEL quota (every
    // label keeps ≥1 cell); this query is the label-free form — the
    // corpus may not HAVE labels. ScaleProbe's ×10 run measured the
    // difference the sizing makes: 84 s (fixed 10 cells, the old q146)
    // vs 15 s here. The broadcast stays legitimate at scale: C ~ sqrt(n)
    // seed vectors is ~10⁵ rows at 10¹⁰ corpus — dimension-table-sized,
    // not corpus-sized.
    //
    // Contract (q146 tier): the planted 2x copy is bit-identical after
    // normalization, so copy and original share cell argmax and probe
    // list FOR ANY deterministic cell function — co-bucketing is
    // structural, the pair scores 1.0 (the max), recall holds. degree_ok
    // additionally certifies every node found a full 5 neighbors, i.e.
    // sqrt-sizing left no starved cells at the gate scale.
    "q155_knn_graph_sqrtcells" -> ((s, dir) => {
      val e = withNorm(plantedVecs(s, dir))
      val n = e.count()
      val c = sqrtCells(n)
      val cells = smallestIdSeeds(e, c, "cell", col("v").as("cv"), col("nrm").as("cnrm"))
      val edges = knnGraphEdges(s, e, cells)
      val es = edges.agg(count(lit(1)).as("n_edges"),
        count(when(col("nbr_id") === col("src_id") + 100000L, 1)).as("n_pl"))
      es.select(
        lit(n).as("n_nodes"), lit(c.toLong).as("n_cells"), col("n_edges"),
        (col("n_edges") === lit(n) * 5).as("degree_ok"),
        (col("n_pl") === lit(n) / 2).as("planted_recall_ok"))
    }),

    // --- NN-descent refinement round (q169): the second act of graph
    // ANN construction that q146's own scaladoc names — a blocked build
    // gives each node APPROXIMATE neighbors; NN-descent improves them
    // with the neighbors-of-my-neighbors principle: candidates(u) =
    // 2-hop ∪ 1-hop over the UNDIRECTED q146 graph, rescore exact
    // cosine, keep top-5. One round here (the marginal gain halves per
    // round; production runs until convergence with the same plan
    // shape). Fully row-level-oracled: the DuckDB oracle re-derives the
    // q146 graph AND the refinement (expand → distinct → rescore →
    // rank) and compares all 5n (src, rnk, nbr, score) rows.
    //
    // Scale: edges are n×5 and out-degree is 5 BY CONSTRUCTION, but
    // IN-degree is not — a hub vector (cosine hubness is endemic in
    // high dimensions) can sit in thousands of nodes' top-5, and an
    // uncapped reverse expand would make the 2-hop volume
    // indeg(hub)×n. So the reverse direction is SAMPLED, NN-descent's
    // own rule: each node contributes at most 5 reverse edges (its 5
    // smallest in-neighbor ids — deterministic, a bounded-heap TopK
    // partial agg, oracle-replicable), capping every und degree at 10
    // and the 2-hop expand at 100n rows structurally — a hub makes the
    // graph denser AROUND it, never quadratic (the q158 wedge
    // discipline, applied to descent; LlmSpec proves the bound on a
    // planted star). Candidates are distinct'd BEFORE the vector
    // fetch so each pair rescores once; the two fetches are uniform
    // n-keyed hash joins; ranking is the bounded-heap TopK (candidates
    // die map-side, exchange = n×5). Everything linear in n — the
    // round never touches the n²/C blocked-build cost again.
    // Recall: the planted copy pair is IN the input graph (q146's
    // contract) and rescores at the maximal 1.0, so refinement can
    // never evict it — descent only ADDS better neighbors.
    "q169_knn_descent" -> ((s, dir) => {
      val e = withNorm(plantedVecs(s, dir))
      // localCheckpoint: the edge list feeds BOTH sides of the 2-hop
      // self-join and the 1-hop union — without the cut the whole
      // blocked build runs three times
      val edges = knnGraphEdges(s, e, stratifiedCells(s, e))
        .localCheckpoint()
      val und = descentAdjacency(edges)
      // the adjacency (≤ 2× the checkpointed edge list, narrow) and
      // the two vector fetches (n rows at the vector row width) all
      // grow with the corpus — each hash preference is gated on the
      // per-task build budget; bounds come from the edge checkpoint
      // and the memoized corpus count (zero extra probe jobs)
      val nEdges = probeCount(edges)
      val nVecs = probeCount(e) // memo hit (stratifiedCells)
      // batchHint ladder (r16): the adjacency is narrow and batch-shaped
      // at harness scale — broadcast under the byte cap leaves the 1-hop
      // side un-shuffled; the shuffle-hash/sort-merge tiers take over as
      // the edge list grows (same gate as before, one tier richer).
      val twoHop = und.as("x")
        .join(batchHint(und.as("y"), 2L * nEdges),
          col("x.nbr_id") === col("y.src_id"))
        .select(col("x.src_id").as("src_id"), col("y.nbr_id").as("cand_id"))
      val cand = twoHop
        .unionAll(und.select(col("src_id"), col("nbr_id").as("cand_id")))
        .filter(col("src_id") =!= col("cand_id"))
        .distinct()
      val va = e.select(col("vec_id").as("src_id"), col("v").as("av"),
        col("nrm").as("anrm"))
      val vb = e.select(col("vec_id").as("cand_id"), col("v").as("bv"),
        col("nrm").as("bnrm"))
      // vector-width ladder (r16): broadcasting the two vector fetches
      // (bytes-gated — see [[Gates.batchHint]]) leaves the 2-hop candidate list, which
      // grows FASTER than the corpus, entirely un-shuffled before its
      // partial-agged top-k; above the byte cap the old shuffle-hash
      // tier re-engages unchanged (measured 94 MB of candidate shuffle
      // at sf0.1 for a 6 MB vector side).
      val scored = cand.join(batchHint(va, nVecs, VecRowBytes), Seq("src_id"))
        .join(batchHint(vb, nVecs, VecRowBytes), Seq("cand_id"))
        .withColumn("score", round(expr(dotSql) / (col("anrm") * col("bnrm")), 4))
      ranked(scored, 5, Seq("src_id"), col("score"), col("cand_id"), "nbr_id")
        .select(col("src_id"), col("rnk"), col("nbr_id"), col("score"))
        .orderBy(col("src_id"), col("rnk"))
    }),

    // --- SemDeDup-style semantic dedup (q166): the composed, SCALED
    // form of q38's pairwise shape — cluster first (spherical k-means:
    // one Lloyd iteration over L2-NORMALIZED vectors, C = ⌈√n⌉ seed
    // cells), then pairwise cosine only WITHIN cells, then a
    // deterministic keeper per near-dup group (a vector is pruned iff a
    // SMALLER-id cellmate scores ≥ 0.99 against it — the q135 keeper
    // rule in vector space). Normalization is the recall linchpin:
    // k-means' Euclidean E-step is NOT scale-invariant, but a planted
    // 2x copy L2-normalizes to the BIT-IDENTICAL unit vector (powers of
    // two are exact), so copy and original share d2 against every
    // centroid, share the argmin cell (ties by cid), and their cosine
    // rounds to 1.0 — pruning of every planted copy is structural.
    //
    // Scale: both E-steps are broadcast cross joins against C ~ √n
    // centroids (the q146/q155 sizing rule; dimension-table-sized at
    // any corpus), the M-step is the exact fixed-point CentroidFixed
    // partial agg, and the intra-cell pair join shuffles Σ|cell|² ~
    // n^1.5 — never corpus². Fully row-level-oracled: seeds, both
    // E-steps, the fixed-point M-step, and the keeper rule are all
    // replicated in DuckDB (q138/q145's playbook).
    "q166_semdedup" -> ((s, dir) => {
      val e = unitVecs(plantedVecs(s, dir))
      val n = e.count()
      // one Lloyd round, then E-step 2 against the updated centroids;
      // payload (nv + its norm) rides the argmin into the pair join
      val assigned2 = cellMembers(e, lloydCells(e, n))
      val bSide = assigned2.select(col("cell"), col("vec_id"),
        col("av").as("bv"), col("anrm").as("bnrm"))
      // assigned2 is corpus-sized WITH vector payload: the intra-cell
      // pair join's hash preference is gated on the per-task budget
      // at the vector row width (n is already counted above)
      val pruned = bSide
        .join(gatedShuffleHash(assigned2.select(col("cell"),
          col("vec_id").as("nbr"), col("av"), col("anrm")), n, VecRowBytes),
          Seq("cell"))
        .filter(col("nbr") < col("vec_id"))
        .withColumn("score", round(expr(dotSql) / (col("anrm") * col("bnrm")), 4))
        .filter(col("score") >= 0.99)
        .select(col("vec_id")).distinct()
      // shuffle_hash (gated — pruned ≤ n narrow rows): the keep-join
      // keys are uniform vec_ids and the pruned side is output-sized;
      // sort-merge would sort the full corpus assignment for a probe
      // of duplicates
      assigned2
        .join(gatedShuffleHash(pruned.withColumn("pr", lit(1)), n),
          Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"), col("pr").isNull.as("keep"))
        .orderBy(col("vec_id"))
    }),

    // --- INCREMENTAL SemDeDup (q245): the ingestion-path counterpart
    // of q166 — the r10 verdict's last stretch item. A production
    // pipeline trains the cell structure ONCE on the indexed corpus and
    // then admits each arriving batch against the FROZEN index: assign
    // new vectors to the frozen centroids (one broadcast E-step), score
    // them only against existing members of the touched cells plus
    // earlier vectors of the same batch (smaller-id-first, the q135/
    // q166 keeper rule), and never rebuild. Incremental cost is
    // O(|batch| x C) for assignment + Σ_cells_touched |batch∩cell| x
    // |cell| for verification — proportional to the batch, not the
    // corpus, and certainly not corpus².
    //
    // Delta convention (q129's playbook in vector space): the batch is
    // 2x-scaled copies of vec_id%3==0 (exact-cosine dups — must be
    // pruned; scaling by a power of two L2-normalizes bit-identically,
    // so copy and original share the argmin cell STRUCTURALLY) plus
    // reversed vectors of vec_id%3==1 (novel content — admitted unless
    // a reversal happens to collide, which the 0.99 grid decides
    // identically in both engines) plus 4x second-generation copies of
    // vec_id%6==0 at +400000, which duplicate BOTH the indexed original
    // and the earlier +200000 batch member — so ex_hits and new_hits
    // are each non-trivially exercised. Output is the ADMISSION RECORD for
    // the batch only: assigned cell, how many indexed vectors it
    // duplicated (ex_hits), how many earlier batch members (new_hits),
    // and the keep verdict. All-integer evidence columns — hash-safe.
    //
    // Scale: the frozen centroid table is C ~ √n rows (broadcast); the
    // batch assignment is map-side; the verify join shuffles only cells
    // the batch touched (shuffle_hash — uniform cell keys, probe side
    // batch-sized). The frozen index itself is [[semIndex]] — trained
    // once, memoized, shared with the streaming admission path (q247).
    "q245_incremental_semdedup" -> ((s, dir) =>
      semAdmissionRecord(s, dir, semIndex(s, dir)._2)),

    // --- DECREMENTAL SemDeDup membership erasure (q258): the RTBF side
    // of q245, completing the semantic index's lifecycle parity with
    // the lexical one (q251 build / q254+q245 admit / q256+q258 erase /
    // q257+q259 compact — r12 verdict item 5). A right-to-be-forgotten
    // batch (indexed vectors, vec_id%5==2) UN-FOLDS from the stored
    // members artifact by one anti-join — the cell structure stays
    // FROZEN (erasing members does not retrain centroids; retraining is
    // the scheduled q166-rebuild path) — and the standard admission
    // batch is then gated against the reduced index. The oracle runs
    // the full q245 re-derivation with the erased members excluded from
    // the ex-hit join, so the hash gate proves erased members witness
    // NOTHING: batch duplicates whose only indexed original was erased
    // flip to keep=true exactly as a rebuild-without-them would decide
    // (vec_id≡12 mod 15 originals make the flip set non-empty). Scale:
    // the erase is one batch-keyed anti-join against the stored frame;
    // everything else is q245's O(batch) admission.
    "q258_decremental_semdedup" -> ((s, dir) => {
      val del = vecTable(s, dir)
        .filter(col("vec_id") % 5 === 2).select(col("vec_id"))
      semAdmissionRecord(s, dir,
        semIndex(s, dir)._2.join(del, Seq("vec_id"), "left_anti"))
    }),

    // --- semantic-index COMPACTION (q259): the artifact-rewrite side
    // of q258 (the q257 shape in vector space) — the anti-join answers
    // admissions correctly forever, but a real RTBF pipeline must
    // eventually REWRITE the stored members so erased vectors are gone,
    // not masked. TOUCHED-CELL-ONLY by construction: the tombstones'
    // stored residencies name the touched cells (an index lookup, never
    // a members scan), those cells broadcast, and only member rows in a
    // touched cell pay the anti-join — untouched cells pass through
    // whole (at 100 TB: only cells holding tombstones rewrite; the
    // rest of the members store moves as opaque bytes). The oracle
    // REASSIGNS the surviving vectors to the frozen centroids from
    // scratch, so the hash gate proves compacted ≡ rebuilt row-level
    // (assignment is per-vector under frozen cells, which is what makes
    // segment-local compaction exact). Gate output is scalar (vec_id,
    // cell) rows — the container-output rule.
    "q259_sem_index_compaction" -> ((s, dir) =>
      compactedMembers(s, dir).orderBy(col("vec_id"))),

    // --- INCREMENTAL kNN-graph extension (q246): q146's other half of
    // the r10 stretch item. A new batch joins an already-indexed corpus:
    // the label-stratified cell table is FROZEN (built on the indexed
    // side), existing vectors keep their one argmax cell residency (the
    // index store at 100 TB — recomputed here only because the gate is
    // stateless), and each batch vector probes its top-2 frozen cells
    // and ranks 5-NN against the EXISTING members it meets — the graph
    // gains |batch| x 5 edges with zero existing edges recomputed.
    // Incremental cost: |batch| x C broadcast scoring + the blocked
    // candidate join over touched cells only. Batch = 2x copies of
    // vec_id%4==1 (planted: the copy's top-1 must be its original at
    // score 1.0 — structural, the q166 power-of-two argument) plus
    // reversed vectors of vec_id%4==2 (novel probes). Full edge list
    // compared row-level (the q169 precedent).
    "q246_incremental_knn" -> ((s, dir) => {
      val base = vectors(s, dir, "vec_id", "label")
      val ex = withNorm(base)
      val cells = stratifiedCells(s, ex) // frozen on the indexed corpus
      val batch = base.filter(col("vec_id") % 4 === 1)
        .select((col("vec_id") + 300000).as("vec_id"),
          expr("transform(v, x -> x * 2.0D)").as("v"))
        .unionByName(base.filter(col("vec_id") % 4 === 2)
          .select((col("vec_id") + 300000).as("vec_id"),
            reverse(col("v")).as("v")))
        .transform(withNorm)
      knnGraphEdgesOn(s, ex, batch, cells)
        .orderBy(col("src_id"), col("rnk"))
    }),

    // --- histogram quantiles: per-source length profile (p50/p90) from a
    // FIXED 16-bucket histogram — the 100 TB way to profile a corpus
    // column: one map-side-combined groupBy over (source, bucket) whose
    // exchange carries at most sources x 16 rows, then a per-source scan
    // of the tiny histogram array. No global sort, no per-source window
    // over the document stream, no percentile_approx sketch needed when
    // the consumer only wants bucketed quantiles.
    "q133_length_quantiles" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("b", least(lit(15), floor(col("n_chars") / 64)).cast("int"))
      val h = d.groupBy(col("source"), col("b")).agg(count(lit(1)).as("cnt"))
      def loAt(q: String): Column = expr(
        s"""aggregate(hs, named_struct('c', CAST(0 AS BIGINT), 'b', -1),
           |  (acc, x) -> IF(acc.b >= 0, acc,
           |    named_struct('c', acc.c + x.cnt,
           |      'b', IF(acc.c + x.cnt >= ceil($q * total), x.b, -1))),
           |  acc -> acc.b * 64)""".stripMargin)
      h.groupBy(col("source"))
        .agg(expr("sort_array(collect_list(struct(b, cnt)))").as("hs"),
          sum(col("cnt")).as("total"))
        .select(col("source"), col("total"),
          loAt("0.5").as("p50_lo"), loAt("0.9").as("p90_lo"))
        .orderBy(col("source"))
    }),

    // --- mergeable MinHash sketch, sketch-UNION tier: one 16-permutation
    // signature PER SOURCE (min is associative+commutative, so the
    // per-perm min partial-aggregates map-side and the exchange carries
    // sources x 16 rows no matter the corpus size), then the 190
    // source-pair Jaccard estimates from signature agreement — corpus
    // overlap estimation without ever comparing documents. Permutations
    // are Kirsch-Mitzenmacher double hashing (h1 + p*h2) over two
    // md5-derived 56-bit ints — 2 digests per shingle instead of one per
    // perm (a per-perm re-hash benched 6.6s at sf0.1; this is ~1s), the
    // per-perm family is the standard double-hash construction, and 56-bit
    // bases keep h1 + 15*h2 < 2^61 so the arithmetic is overflow-free and
    // bit-identical in BIGINT on both engines.
    "q134_source_minhash" -> ((s, dir) => {
      // non-distinct shingles (duplicates can't change a MIN, and the
      // oracle's unnest is non-distinct too) — skips a per-doc sort
      val rawShingles =
        "CASE WHEN size(tk) >= 3 THEN " +
        "zip_with(zip_with(slice(tk, 1, size(tk) - 2), slice(tk, 2, size(tk) - 2), " +
        "(x, y) -> concat(x, ' ', y)), slice(tk, 3, size(tk) - 2), " +
        "(xy, z) -> concat(xy, ' ', z)) ELSE array() END"
      val sh = withTokens(Tables.documents(s, dir))
        .select(col("source"), explode(expr(rawShingles)).as("sh"))
      // 16 min-aggregate COLUMNS in one codegen'd pass — not a 16x row
      // explode: the perm fan-out stays inside the aggregate buffer, so
      // the scan reads each shingle once and the exchange still carries
      // sources x 16 values
      val ph = sh
        .withColumn("h1", expr(
          "CAST(conv(substr(md5(sh), 1, 14), 16, 10) AS BIGINT)"))
        .withColumn("h2", expr(
          "CAST(conv(substr(md5(concat('x', sh)), 1, 14), 16, 10) AS BIGINT)"))
        .groupBy(col("source"))
        .agg(min(col("h1")).as("h0"),
          (1 to 15).map(p => min(col("h1") + lit(p.toLong) * col("h2")).as(s"h$p")): _*)
      val sig = ph.select(col("source"),
        array((0 to 15).map(p => col(s"h$p")): _*).as("sig"))
      val a = sig.select(col("source").as("src_a"), col("sig").as("sa"))
      val b = sig.select(col("source").as("src_b"), col("sig").as("sb"))
      a.crossJoin(broadcast(b)).filter(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          (expr("size(filter(sequence(0, 15), i -> sa[i] = sb[i]))") / lit(16.0))
            .as("jac_est"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // --- EXACT source containment — the exact tier of the question q134
    // estimates by sketch: for each source pair, |A ∩ B| over the
    // distinct-shingle sets plus both directed containments ("how much
    // of A's material appears in B"), the cross-source leakage audit a
    // multi-source ingest runs when the MinHash estimate flags a pair.
    // Engine shapes: shingles become fnv64 keys (the q151-gated
    // engine-independent hash; 8-byte keys shuffle ~10x cheaper than
    // shingle strings, and the oracle counts the STRINGS — the q34
    // precedent, sound because fnv64 is injective on any real vocabulary
    // and a collision would already trip q151's row-level gate), the
    // (source, key) distinct and the key-equi self-join both shuffle on
    // uniform hash keys, the pair exchange is bounded by sources² x
    // vocab, and the sources-sized size table broadcasts. Containments
    // land on the 1e-6 grid via half-up integer division in
    // DECIMAL(38,0) — exact at any corpus size.
    "q157_source_containment" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s) // fnv64
      val sh = Tables.documents(s, dir)
        .select(col("source"), expr(toksSql).as("tk"))
        .select(col("source"), explode(expr(shinglesSql("tk"))).as("g"))
        .select(col("source"), expr("fnv64(g)").as("h"))
        .distinct()
      val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val a = sh.select(col("source").as("source_a"), col("h"))
      val b = sh.select(col("source").as("source_b"), col("h"))
      a.join(b, Seq("h")).filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("source").as("source_a"),
          col("n").as("n_a"))), Seq("source_a"))
        .join(broadcast(sizes.select(col("source").as("source_b"),
          col("n").as("n_b"))), Seq("source_b"))
        .withColumn("cont_ab", expr(
          "(2 * CAST(inter AS DECIMAL(38,0)) * 1000000 + n_a) DIV (2 * n_a)")
          .cast("double") / lit(1000000.0))
        .withColumn("cont_ba", expr(
          "(2 * CAST(inter AS DECIMAL(38,0)) * 1000000 + n_b) DIV (2 * n_b)")
          .cast("double") / lit(1000000.0))
        .select(col("source_a"), col("source_b"), col("inter"),
          col("n_a"), col("n_b"), col("cont_ab"), col("cont_ba"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // --- INCREMENTAL ingestion dedup: the production shape when a new
    // batch lands next to an existing corpus — dedup the DELTA against
    // the INDEX, never the corpus against itself. The planted batch (at
    // doc_id+20000) has exact copies (doc_id%10==4), tail-trimmed near
    // copies (%10==7) and token-reversed novel docs (%10==1), so all
    // three outcomes are exercised deterministically. Exact path: one
    // md5 equi-join against the corpus hash index. Near path: the
    // delta's shingles probe the df-capped corpus inverted index (the
    // cap sits on CORPUS df — the index side is where boilerplate
    // lives), candidates verify by exact set Jaccard over the full
    // arrays, and the best match is a partial-agged max(struct(jac,
    // -corpus_id)). Cost is O(delta x cap) candidate rows: ingestion
    // never pays corpus², and the corpus index is exactly what a
    // production pipeline keeps materialized between batches.
    "q129_incremental_dedup" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s) // sorted_intersect_count
      val base = withTokens(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
      val corpus = base
        .select(col("doc_id").as("corpus_id"), md5(col("text")).as("eh"),
          // sorted once per doc at build: the merge-scan verify contract
          expr("array_sort(transform(" + shinglesSql("tk") + ", x -> xxhash64(x)))").as("chs"))
        .withColumn("csz", size(col("chs")))
        // the materialized index a production pipeline keeps between
        // batches (hash + shingle arrays); three consumers below
        .localCheckpoint()
      val delta = withTokens(
        base.filter(col("doc_id") % 10 === 4)
          .select((col("doc_id") + 20000).as("doc_id"), col("text"))
        .union(base.filter(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 20000).as("doc_id"),
            expr("array_join(slice(tk, 1, greatest(size(tk) - 5, 1)), ' ')")
              .as("text")))
        .union(base.filter(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 20000).as("doc_id"),
            expr("array_join(reverse(tk), ' ')").as("text"))))
        .select(col("doc_id"), md5(col("text")).as("eh"),
          expr("array_sort(transform(" + shinglesSql("tk") + ", x -> xxhash64(x)))").as("dhs"))
        .withColumn("dsz", size(col("dhs")))
        .localCheckpoint() // feeds exact join, near probe, and final frame
      // exact: min corpus id per content hash, equi-joined to the delta
      val exact = delta.select(col("doc_id"), col("eh"))
        .join(corpus.groupBy(col("eh"))
          .agg(min(col("corpus_id")).as("exact_match")), Seq("eh"), "left")
        .select(col("doc_id"), col("exact_match"))
      // near: probe the df-capped corpus index with the delta's shingles
      val cidx = corpus.select(col("corpus_id"), explode(col("chs")).as("h"))
      val cold = cidx.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= ShingleDfCap).select(col("h"))
      val cand = delta.select(col("doc_id"), explode(col("dhs")).as("h"))
        .join(cold, Seq("h"), "left_semi")
        .join(cidx, Seq("h"))
        .select(col("doc_id"), col("corpus_id")).distinct()
      val best = cand
        .join(delta.select(col("doc_id"), col("dsz"), col("dhs")), Seq("doc_id"))
        .join(corpus.select(col("corpus_id"), col("csz"), col("chs")), Seq("corpus_id"))
        .withColumn("inter", expr("sorted_intersect_count(dhs, chs)"))
        .withColumn("jac", col("inter") / (col("dsz") + col("csz") - col("inter")))
        .filter(col("jac") >= 0.5)
        .groupBy(col("doc_id"))
        .agg(max(struct(col("jac"), (-col("corpus_id")).as("neg"))).as("m"))
        .select(col("doc_id"), (-col("m.neg")).as("near_match"),
          col("m.jac").as("near_jac"))
      exact.join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("exact_match"), col("near_match"),
          col("near_jac"),
          (col("exact_match").isNull && col("near_match").isNull).as("is_new"))
        .orderBy(col("doc_id"))
    }),

    // --- ANN recall audit (q170): recall@k of the IVF index (q46)
    // against the exact brute-force top-k (q37) — the standard quality
    // eval every production vector store runs before trusting an index,
    // and the missing closure over the repo's whole ANN family
    // (q39/q46/q131/q132/q145 all trade recall for probe cost; this op
    // MEASURES the trade). Both arms share k=3 and the identical
    // deterministic tie order (score DESC on the 4-decimal grid, nbr_id
    // ASC), so the two top-k SETS are engine-independent and the
    // intersection count is exact. recall lands on the half-up 1e-6
    // integer grid — never round(n_hit/k). Scale: the exact arm is the
    // intrinsic cost of ground truth, bounded by the AUDIT SAMPLE (10
    // anchors here, never the full query log — recall audits sample by
    // design), so the brute-force stream is anchors x corpus with the
    // bounded-heap TopK's O(anchors x k) exchange; the IVF arm is the
    // production probe path itself; the final joins are anchors x k
    // rows. The reused q37/q46 outputs carry their top-k-sized sorts
    // (≤ 50 rows) — output-sized, not corpus-sized.
    "q170_ann_recall" -> ((s, dir) => {
      val exact = queries("q37_knn_cosine")(s, dir)
        .filter(col("rnk") <= 3)
        .select(col("query_id"), col("nbr_id"))
      val approx = queries("q46_ann_ivf")(s, dir)
        .select(col("query_id"), col("nbr_id"))
      val hits = exact.join(approx, Seq("query_id", "nbr_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      exact.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
        .join(hits, Seq("query_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .withColumn("rc", // gridDiv: the one guarded micro grid (r14)
          expr(graft.operators.GovernanceQueries.gridDiv("n_hit", "k")))
        .select(col("query_id"), col("k"), col("n_hit"),
          (col("rc").cast("double") / lit(1000000.0)).as("recall"))
        .orderBy(col("query_id"))
    }),

    // --- greedy k-center coreset selection (q174): Gonzalez's
    // farthest-point traversal — the classic 2-approximation for
    // k-center and the standard geometric data-pruning/coreset pick
    // (select the k most mutually distant examples). Deterministic and
    // engine-independent END-TO-END: vectors quantize once to a 2^16
    // integer grid, distances are exact integer squared-Euclidean
    // (bounded by dim x (2^17)^2 << 2^63), the seed is min(vec_id), and
    // each round's argmax breaks ties by min vec_id — so the oracle
    // re-derives the identical traversal. Scale: k passes over the
    // corpus, each a map-side min over the (broadcast, <= k-row) chosen
    // set followed by a 1-row partial-agg argmax — no window, no pair
    // shuffle, nothing corpus²; the quantized corpus materializes once
    // (localCheckpoint) and each round's state is k rows.
    "q174_kcenter_coreset" -> ((s, dir) =>
      kcenterChosen(vecTable(s, dir)
        .select(col("vec_id"), fixedPoint), k = 8)
        .orderBy(col("rnk"))),

    // --- mutual-kNN pair mining (q175): pairs of vectors that are each
    // other's TOP-1 neighbor — the reciprocal-nearest-neighbor criterion
    // behind bitext/parallel-pair mining (Artetxe & Schwenk's
    // margin-based mining keeps candidates that are mutual neighbors
    // first) and the merge rule of reciprocal-NN agglomerative
    // clustering. Built ON the blocked kNN graph (q146's stratified
    // cells + knnGraphEdges, now rank-carrying), so the pair discovery
    // inherits the ~n^1.5 blocked-build cost instead of n² brute force;
    // the mutual check itself is one self-join of the n-row rank-1 edge
    // list on the reversed id pair — id-keyed hash join, output-sized.
    // score is emitted once: vec_dot folds index-wise and IEEE multiply
    // commutes, so the a->b and b->a scores are bit-identical. The
    // oracle re-derives the whole chain (cells, assignment, probes,
    // rank-1, mutual join) with the engine's exact tie order.
    "q175_mutual_knn" -> ((s, dir) => {
      val e = withNorm(vectors(s, dir, "vec_id", "label"))
      val r1 = knnGraphEdges(s, e, stratifiedCells(s, e))
        .filter(col("rnk") === 1)
        .select(col("src_id"), col("nbr_id"), col("score"))
        .localCheckpoint() // both sides of the mutual join
      r1.as("a").join(r1.as("b"),
          col("a.src_id") === col("b.nbr_id") &&
            col("a.nbr_id") === col("b.src_id") &&
            col("a.src_id") < col("b.src_id"))
        .select(col("a.src_id").as("vec_a"), col("a.nbr_id").as("vec_b"),
          col("a.score").as("score"))
        .orderBy(col("vec_a"))
    }),

    // --- embedding PCA, top principal direction (q171): the covariance
    // spectral step behind standard embedding post-processing ("All-
    // but-the-top", Mu & Viswanath 2018: drop the dominant directions;
    // PCA whitening before ANN indexing) — distributed the only way
    // that survives 100 TB: ONE corpus pass folds each row's d×d outer
    // product (plus count and per-dim sums) row-locally into the
    // [[graft.functions.VectorAggregators.PcaMoments]] buffer — the
    // exchange is O(partitions × d²), bounded by the DIMENSION, never
    // the corpus — then 20 fixed power-iteration rounds run as narrow
    // single-row array projections over the normalized covariance; the
    // corpus is never touched again.
    // Engine-independence is the q151 playbook end-to-end: components
    // quantize once to a 2^16 integer grid, so moments/covariance are
    // EXACT integers (DECIMAL(38,0) / HUGEINT); the covariance and
    // every iterate renormalize onto a 1e6 integer grid via the
    // sign-safe division (DIV truncates; DuckDB //'s negative behavior
    // is version-dependent, 1.0.0 truncates, others floor —
    // abs-then-reapply-sign makes them agree); the Rayleigh quotient
    // lands on the same grid. Fixed iteration count, fixed all-ones
    // start: the traversal is deterministic whether or not it has
    // converged, and the oracle re-derives all 20 rounds unrolled.
    "q171_embedding_pca" -> ((s, dir) =>
      pcaTopComponent(vecTable(s, dir)
        .select(fixedPoint))
        .orderBy(col("dim"))),

    // --- MMR diversified selection (q230): Carbonell & Goldstein's
    // maximal-marginal-relevance re-ranking — the standard fix for
    // "the top-k are 8 copies of the same thing" in retrieval AND the
    // diversity rule in coreset-style data selection. Greedy: each
    // round picks argmin over remaining of λ·d²(x, query) −
    // (1−λ)·min_{c∈chosen} d²(x, c) with λ = 0.7 (scaled to integers
    // 7/3; an empty chosen set contributes 0, so round 1 is pure
    // relevance). The "query" is the corpus centroid on the same 2^16
    // integer grid as the vectors (sum DIV n per dim, sign-safe — the
    // q138/q156 fixed-point centroid discipline), so every distance,
    // weight, and tie-break is exact integer arithmetic. Scale shape =
    // q174's: k passes, each a map-side min against the ≤k-row
    // broadcast chosen set + ONE max(struct) argmax partial agg — no
    // window, no global sort, the corpus localCheckpointed once.
    "q230_mmr_select" -> ((s, dir) =>
      mmrChosen(vecTable(s, dir)
        .select(col("vec_id"), fixedPoint), k = 8)
        .orderBy(col("rnk"))),

    // --- duplicate-relation classification (q240): the triage step
    // after pair discovery — is the pair a CONTAINMENT (one document
    // quotes/subsumes the other: inter ≥ 0.9 of the smaller shingle
    // set, the signal Jaccard dilutes whenever sizes differ) or mere
    // resemblance (near_copy at jac ≥ 0.8, else partial_overlap)?
    // Deduplication keeps one of a near-copy pair but usually KEEPS
    // both of a quote pair — the relation decides the policy. One
    // shingle build (the q35 single-materialization pattern), the q34
    // candidate generator, then two doc-keyed hash joins and row-local
    // exact set math; containment on the half-up ppm grid.
    "q240_dup_relation" -> ((s, dir) =>
      dupRelations(shingleSets(s, dir), ngramJaccardPairs(s, dir))
        .orderBy(col("doc_a"), col("doc_b")))
  )

  /** q230's engine (factored so LlmSpec can drive planted geometries):
    * greedy MMR over a (vec_id, f: array&lt;bigint&gt;) frame against the
    * fixed-point corpus centroid. Each round minimizes
    * 7·d²(x, centroid) − 3·min_{c∈chosen} d²(x, c), ties to the
    * smaller vec_id; round 1 has dmin = 0 (empty chosen set) and so is
    * pure relevance. Returns (rnk, vec_id, d2q, dmin, mmr). */
  private[graft] def mmrChosen(quantized: DataFrame, k: Int): DataFrame = {
    val e = quantized.localCheckpoint() // scanned once, probed k times
    val cq = e.select(posexplode(col("f")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      // sign-safe truncating division: Spark DIV truncates, DuckDB //
      // floors — abs-then-reapply-sign makes the engines agree on the
      // negative components (the q159/q171 rule)
      .withColumn("c", expr(
        "CASE WHEN sx >= 0 THEN sx DIV n ELSE -((-sx) DIV n) END"))
      .agg(expr("transform(sort_array(collect_list(struct(i, c))), s -> s.c)")
        .as("cf"))
    val d2qSql = "aggregate(zip_with(f, cf, (x, y) -> (x - y) * (x - y)), " +
      "0L, (acc, z) -> acc + z)"
    val d2cSql = "aggregate(zip_with(f, gf, (x, y) -> (x - y) * (x - y)), " +
      "0L, (acc, z) -> acc + z)"
    val rel = e.crossJoin(broadcast(cq)).withColumn("d2q", expr(d2qSql))
      .select(col("vec_id"), col("f"), col("d2q"))
      .localCheckpoint()
    var chosen = rel
      .agg(max(struct((-col("d2q") * 7).as("negmmr"), (-col("vec_id")).as("neg"),
        col("d2q"), col("f"))).as("m"))
      .select(lit(1).as("rnk"), (-col("m.neg")).as("vec_id"),
        col("m.d2q").as("d2q"), lit(0L).as("dmin"),
        (-col("m.negmmr")).as("mmr"), col("m.f").as("f"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val next = rel
        .join(chosen.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(chosen.select(col("f").as("gf"))))
        .withColumn("d2c", expr(d2cSql))
        .groupBy(col("vec_id"))
        .agg(min(col("d2c")).as("dmin"), first(col("d2q")).as("d2q"),
          first(col("f")).as("f"))
        .withColumn("mmr", col("d2q") * 7 - col("dmin") * 3)
        .agg(max(struct((-col("mmr")).as("negmmr"), (-col("vec_id")).as("neg"),
          col("d2q"), col("dmin"), col("f"))).as("m"))
        .select(lit(r).as("rnk"), (-col("m.neg")).as("vec_id"),
          col("m.d2q").as("d2q"), col("m.dmin").as("dmin"),
          (-col("m.negmmr")).as("mmr"), col("m.f").as("f"))
      chosen = chosen.union(next).localCheckpoint()
    }
    chosen.select(col("rnk"), col("vec_id"), col("d2q"), col("dmin"),
      col("mmr"))
  }

  /** q174's engine (factored so LlmSpec can drive planted geometries):
    * Gonzalez greedy farthest-point traversal over a (vec_id,
    * f: array&lt;bigint&gt;) frame — integer squared-Euclidean distances,
    * min-id seed, (d2 DESC, vec_id ASC) argmax per round. Returns
    * (rnk, vec_id, d2). See the q174 map entry for the scale argument. */
  private[graft] def kcenterChosen(quantized: DataFrame, k: Int): DataFrame = {
    val e = quantized.localCheckpoint() // scanned once, probed k times
    val seedId = e.agg(min(col("vec_id"))).head().getLong(0)
    val d2Sql = "aggregate(zip_with(f, cf, (x, y) -> (x - y) * (x - y)), " +
      "0L, (acc, z) -> acc + z)"
    var chosen = e.filter(col("vec_id") === seedId)
      .select(lit(1).as("rnk"), col("vec_id"), lit(0L).as("d2"), col("f"))
      .localCheckpoint()
    for (r <- 2 to k) {
      // d_min to the chosen set, then a partial-agged argmax — the
      // q127/q46 max(struct) shape, never a global sort
      val next = e.join(chosen.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(chosen.select(col("f").as("cf"))))
        .withColumn("d2c", expr(d2Sql))
        .groupBy(col("vec_id")).agg(min(col("d2c")).as("dmin"), first(col("f")).as("f"))
        .agg(max(struct(col("dmin"), (-col("vec_id")).as("neg"), col("f"))).as("m"))
        .select(lit(r).as("rnk"), (-col("m.neg")).as("vec_id"),
          col("m.dmin").as("d2"), col("m.f").as("f"))
      chosen = chosen.union(next).localCheckpoint()
    }
    chosen.select(col("rnk"), col("vec_id"), col("d2"))
  }

  /** q171's engine (factored so LlmSpec can drive planted spectra): top
    * principal direction of a quantized-embedding frame (one
    * f: array&lt;bigint&gt; column, 64 dims) via exact integer moments →
    * covariance → 20 rounds of 1e6-grid power iteration. Returns
    * (dim 1..64, comp, ev_lambda). See the q171 map entry for the
    * engine-independence and scale arguments. */
  private[graft] def pcaTopComponent(quantized: DataFrame): DataFrame = {
      val e = quantized
      // ONE corpus pass: count, per-dim sums, and the d² outer-product
      // sums fold row-locally in [[graft.functions.VectorAggregators
      // .PcaMoments]] — shuffle volume O(partitions x d²), never rows.
      // (r10-close rewrite: the explode-then-hash-agg form generated
      // d² rows PER VECTOR before the partial agg, and the joined
      // per-round iteration added ~50 tiny jobs — together ~8.7 s at
      // sf0.1 for a 64-dim problem; this form is one pass + one narrow
      // single-row projection chain. Every integer op is unchanged, so
      // the unrolled oracle replica and the planted single-axis spec
      // certify the rewrite bit-for-bit.)
      val mom = udaf(new graft.functions.VectorAggregators.PcaMoments(64))
      val base = e.agg(mom(col("f")).as("mm"))
        .select(col("mm.sp").as("spa"), col("mm.m").as("ma"),
          col("mm.n").as("n"))
        .withColumn("cov", expr(
          "transform(sequence(0, 4095), k -> " +
            "CAST(n AS DECIMAL(38,0)) * element_at(spa, k + 1) - " +
            "CAST(element_at(ma, CAST(k DIV 64 AS INT) + 1) AS DECIMAL(38,0)) * " +
            "element_at(ma, k % 64 + 1))"))
        .withColumn("cmx", expr("array_max(transform(cov, c -> abs(c)))"))
        .withColumn("cm", expr(
          "transform(cov, c -> CASE WHEN cmx = 0 THEN CAST(0 AS BIGINT) " +
            "WHEN c >= 0 THEN CAST((c * 1000000) DIV cmx AS BIGINT) " +
            "ELSE -CAST(((-c) * 1000000) DIV cmx AS BIGINT) END)"))
        .select(col("cm"))
        .withColumn("v", expr(
          "transform(sequence(0, 63), j -> CAST(1000000 AS BIGINT))"))
      // One power round as ONE self-contained expression. aggregate()'s
      // zero slot binds the matrix-vector product w ONCE (a let-binding
      // — without it the mx and renorm references would each duplicate
      // the w subtree and the 20-round expression tree would grow
      // 2^20); the finish lambda renormalizes onto the 1e6 grid with
      // the engine's sign-safe truncating division. |w_i| <= 64 * 1e12
      // stays in BIGINT; the *1e6 renumerator rides DECIMAL(38,0).
      val stepSql =
        "aggregate(array(0), " +
          "transform(sequence(0, 63), i -> aggregate(sequence(0, 63), " +
            "CAST(0 AS BIGINT), (acc, j) -> acc + " +
            "element_at(cm, i * 64 + j + 1) * element_at(v, j + 1))), " +
          "(acc, z) -> acc, " +
          "w -> transform(w, r -> CASE " +
            "WHEN array_max(transform(w, y -> abs(y))) = 0 THEN CAST(0 AS BIGINT) " +
            "WHEN r >= 0 THEN CAST((CAST(r AS DECIMAL(38,0)) * 1000000) DIV " +
              "array_max(transform(w, y -> abs(y))) AS BIGINT) " +
            "ELSE -CAST((CAST(-r AS DECIMAL(38,0)) * 1000000) DIV " +
              "array_max(transform(w, y -> abs(y))) AS BIGINT) END))"
      // Materialize the one-row frame EVERY round: chaining even 4
      // rounds into one expression nests HOF lambdas deep enough that
      // the analyzer's lambda re-resolution explodes planning past
      // minutes (measured; linear tree size, super-linear plan time),
      // while 20 localCheckpoints of a single 1-row partition are
      // ~30 ms each — no exchange, no join, one narrow task per round.
      var frame = base.localCheckpoint()
      for (_ <- 1 to 20)
        frame = frame.withColumn("v", expr(stepSql)).localCheckpoint()
      val out = frame
        .withColumn("wf", expr(
          "transform(sequence(0, 63), i -> aggregate(sequence(0, 63), " +
            "CAST(0 AS BIGINT), (acc, j) -> acc + " +
            "element_at(cm, i * 64 + j + 1) * element_at(v, j + 1)))"))
        .withColumn("num", expr(
          "aggregate(sequence(0, 63), CAST(0 AS DECIMAL(38,0)), (acc, i) -> " +
            "acc + CAST(element_at(wf, i + 1) AS DECIMAL(38,0)) * " +
            "element_at(v, i + 1))"))
        .withColumn("den", expr(
          "aggregate(sequence(0, 63), CAST(0 AS DECIMAL(38,0)), (acc, i) -> " +
            "acc + CAST(element_at(v, i + 1) AS DECIMAL(38,0)) * " +
            "element_at(v, i + 1))"))
        .withColumn("lm", expr("CASE WHEN den = 0 THEN CAST(0 AS BIGINT) " +
          "WHEN num >= 0 THEN CAST((num * 1000000) DIV den AS BIGINT) " +
          "ELSE -CAST(((-num) * 1000000) DIV den AS BIGINT) END"))
      out.select(col("lm"), posexplode(col("v")).as(Seq("j", "val")))
        .select((col("j") + 1).cast("long").as("dim"),
          (col("val").cast("double") / lit(1000000.0)).as("comp"),
          (col("lm").cast("double") / lit(1000000.0)).as("ev_lambda"))
  }

  // ---- DuckDB replicas of the engine's hash primitives (oracle side of
  // fnv64/mix64). All arithmetic lives in HUGEINT on [0, 2^64): FNV-1a's
  // 40-bit multiplier keeps products under 2^104, and fmix64's 64-bit
  // multiplies split into 32-bit halves so nothing exceeds 2^96. The
  // signed view (for comparisons that must match the engine's Long
  // ordering) is a single mod-2^64 wrap at the end.
  private[operators] val H64 = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
  /** FNV-1a over a string column's UTF-8 bytes (hex-pair walk; the fold
    * seeds list_reduce by prepending the offset basis). */
  private[graft] def fnvSqlOf(c: String): String =
    s"list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
    s"[CAST(CAST('0x' || substring(hex(encode($c)), 2*i-1, 2) AS UBIGINT) AS HUGEINT) " +
    s"FOR i IN range(1, octet_length(encode($c)) + 1)]), " +
    s"(h, b) -> (xor(h, b) * CAST(1099511628211 AS HUGEINT)) % $H64)"
  /** (a * k) mod 2^64 for a column in [0, 2^64) and a 64-bit constant:
    * 32-bit-split multiplication so no product exceeds HUGEINT range. */
  private def mulmodSql(a: String, kUnsigned: String): String =
    s"((($a % 4294967296) * CAST($kUnsigned AS HUGEINT) + " +
    s"((($a // 4294967296) * CAST($kUnsigned AS HUGEINT)) % 4294967296) * 4294967296) % $H64)"
  /** h ^= h >> 33 — apply only to a COLUMN REF (the operand appears twice). */
  private def xs33(a: String): String = s"xor($a, $a >> 33)"
  /** unsigned [0,2^64) -> the engine's signed Long (two's-complement). */
  private[operators] def wrapSigned(a: String): String =
    s"CAST(CASE WHEN $a >= CAST(9223372036854775808 AS HUGEINT) " +
    s"THEN $a - $H64 ELSE $a END AS BIGINT)"
  /** the q34/q151/q152 planted corpus + distinct-3-shingle CTEs (DuckDB
    * side of [[plantedNear]] + [[shinglesSql]]). */
  private val plantedShingleCtes: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000,
      |    array_to_string(string_split_regex(trim(text), '\s+')[1:greatest(
      |      len(string_split_regex(trim(text), '\s+')) - 5, 1)], ' ')
      |  FROM documents),
      |shl AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3 THEN
      |    list_transform(range(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
      |    ELSE [] END) AS sh
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |        FROM corpus)),
      |shz AS (SELECT doc_id, len(sh) AS sz, sh FROM shl WHERE len(sh) > 0)""".stripMargin

  /** The q151 LSH pipeline as a shared CTE block ending in
    * `lshp(doc_a, doc_b, jac)` — the verified MinHash-LSH pair set,
    * consumed by the q151 row-level oracle AND q35's certification
    * oracle (which compares it against the exact truth genuinely
    * instead of pinning booleans). */
  private def lshPairCtes: String = {
    val seedRows = MinhashSeeds.zipWithIndex.map { case (sd, j) =>
      s"($j, CAST('${java.lang.Long.toUnsignedString(sd)}' AS HUGEINT))"
    }.mkString(", ")
    val jacSql = "len(list_intersect(x.sh, y.sh)) / " +
      "(x.sz + y.sz - len(list_intersect(x.sh, y.sh)))"
    s"""$plantedShingleCtes,
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM shz),
       |hs AS (SELECT doc_id, ${fnvSqlOf("s")} AS h FROM ex),
       |seeds(j, sd) AS (VALUES $seedRows),
       |m1 AS (SELECT doc_id, j, xor(h, sd) AS u FROM hs CROSS JOIN seeds),
       |m2 AS (SELECT doc_id, j, ${xs33("u")} AS u FROM m1),
       |m3 AS (SELECT doc_id, j, ${mulmodSql("u", "18397679294719823053")} AS u FROM m2),
       |m4 AS (SELECT doc_id, j, ${xs33("u")} AS u FROM m3),
       |m5 AS (SELECT doc_id, j, ${mulmodSql("u", "14181476777654086739")} AS u FROM m4),
       |m6 AS (SELECT doc_id, j, ${xs33("u")} AS u FROM m5),
       |sig AS (SELECT doc_id, j, MIN(${wrapSigned("u")}) AS m
       |        FROM m6 GROUP BY doc_id, j),
       |bands AS (SELECT doc_id, j // 4 AS band, list(m ORDER BY j) AS bkey
       |          FROM sig GROUP BY doc_id, j // 4),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |lshp AS (SELECT c.doc_a, c.doc_b, $jacSql AS jac
       |         FROM cand c JOIN shz x ON c.doc_a = x.doc_id
       |                     JOIN shz y ON c.doc_b = y.doc_id
       |         WHERE $jacSql >= 0.5)""".stripMargin
  }

  /** Full row-level oracle for the MinHash-LSH pair list: recompute the
    * FNV shingle keys, the 16-seed mix64 family (same [[MinhashSeeds]]
    * constants, staged one fmix64 step per CTE so nothing re-evaluates
    * exponentially), band by signature 4-tuples (the engine's xxhash64
    * band KEY is just a bucketing of tuple equality), then exact Jaccard
    * >= 0.5 over the string shingle sets for the candidates. */
  private def q151OracleSql: String =
    s"""WITH $lshPairCtes
       |SELECT doc_a, doc_b, jac FROM lshp
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q208's oracle: the q151 signature chain (`sig`) re-banded at each
    * swept (bands, rows) shape by GROUP BY j // r — tuple-equality
    * banding, exactly what the engine's xxhash64 band keys bucket — and
    * the df-capped exact truth re-derived as in q35's oracle; recall /
    * precision land on the shared half-up 1e-6 grid. Unreferenced CTEs
    * from the chain (bands/cand/lshp) are pruned by the optimizer. */
  private def q208OracleSql: String = {
    def cfg(nb: Int, r: Int): String =
      s"""b$r AS (SELECT doc_id, j // $r AS band, list(m ORDER BY j) AS bkey
         |        FROM sig GROUP BY doc_id, j // $r),
         |c$r AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |        FROM b$r a JOIN b$r b
         |        ON a.band = b.band AND a.bkey = b.bkey
         |          AND a.doc_id < b.doc_id),
         |s$r AS (SELECT $nb AS bands, $r AS rows_per_band,
         |          (SELECT COUNT(*) FROM c$r) AS candidates,
         |          (SELECT COUNT(*) FROM c$r JOIN exact
         |            ON exact.doc_a = c$r.doc_a
         |            AND exact.doc_b = c$r.doc_b) AS tp)""".stripMargin
    s"""WITH $lshPairCtes,
       |exd AS (SELECT doc_id, sz, unnest(sh) AS s FROM shz),
       |exd2 AS (SELECT doc_id, sz, s,
       |           COUNT(*) OVER (PARTITION BY s) AS df FROM exd),
       |exact AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM exd2 a JOIN exd2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
       |  HAVING COUNT(*) / (a.sz + b.sz - COUNT(*)) >= 0.5
       |    AND MIN(a.df) <= 256),
       |nt AS (SELECT COUNT(*) AS true_pairs FROM exact),
       |${cfg(8, 2)},
       |${cfg(4, 4)},
       |${cfg(2, 8)},
       |sel AS (SELECT * FROM s2 UNION ALL SELECT * FROM s4
       |        UNION ALL SELECT * FROM s8)
       |SELECT bands, rows_per_band,
       |  CAST(candidates AS BIGINT) AS candidates,
       |  CAST(nt.true_pairs AS BIGINT) AS true_pairs,
       |  CAST(tp AS BIGINT) AS tp,
       |  CAST(CAST((2 * tp::HUGEINT * 1000000 + greatest(nt.true_pairs, 1)) //
       |    (2 * greatest(nt.true_pairs, 1)::HUGEINT) AS BIGINT) AS DOUBLE)
       |    / 1000000.0 AS recall,
       |  CAST(CAST((2 * tp::HUGEINT * 1000000 + greatest(candidates, 1)) //
       |    (2 * greatest(candidates, 1)::HUGEINT) AS BIGINT) AS DOUBLE)
       |    / 1000000.0 AS prec
       |FROM sel CROSS JOIN nt ORDER BY bands DESC""".stripMargin
  }

  /** q35's certification oracle: the LSH pair set (q151's chain) vs the
    * df-capped exact truth, every output column computed from the two
    * recomputed sets — the engine's exact relationship, independently
    * re-derived. */
  private def q35OracleSql: String =
    s"""WITH $lshPairCtes,
       |exd AS (SELECT doc_id, sz, unnest(sh) AS s FROM shz),
       |exd2 AS (SELECT doc_id, sz, s,
       |           COUNT(*) OVER (PARTITION BY s) AS df FROM exd),
       |exact AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM exd2 a JOIN exd2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
       |  HAVING COUNT(*) / (a.sz + b.sz - COUNT(*)) >= 0.5
       |    AND MIN(a.df) <= 256),
       |f AS (SELECT count(*) AS n_found,
       |        count(e.doc_a) AS n_found_exact,
       |        count(CASE WHEN e.doc_a IS NOT NULL
       |                    AND l.doc_b = l.doc_a + 10000 THEN 1 END)
       |          AS n_planted_found
       |      FROM lshp l LEFT JOIN exact e
       |        ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b),
       |x AS (SELECT count(*) AS n_exact,
       |        count(CASE WHEN doc_b = doc_a + 10000 THEN 1 END)
       |          AS n_planted_exact
       |      FROM exact)
       |SELECT CAST(x.n_exact AS BIGINT) AS n_exact,
       |  CAST(x.n_planted_exact AS BIGINT) AS n_planted_exact,
       |  f.n_found = f.n_found_exact AS lsh_subset_ok,
       |  f.n_found_exact >= x.n_exact * 0.9 AS recall_ok,
       |  f.n_planted_found >= x.n_planted_exact * 0.9 AS planted_recall_ok
       |FROM x CROSS JOIN f""".stripMargin

  /** q36's certification oracle: banded pairs (q152's chain) vs the
    * direct planted-pair Hamming distances from the replicated
    * signatures; the pigeonhole and recall booleans evaluated from the
    * recomputed sets. n_docs counts the corpus directly (the engine
    * emits one signature per planted doc unconditionally). */
  private def q36OracleSql: String =
    s"""WITH $simhashChainCtes,
       |pl AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |       FROM shd a JOIN shd b ON b.doc_id = a.doc_id + 10000),
       |m AS (SELECT
       |        count(CASE WHEN p.hamming <= 3 AND f.doc_a IS NULL
       |                   THEN 1 END) AS n3m,
       |        count(CASE WHEN p.hamming <= 6 AND f.doc_a IS NOT NULL
       |                   THEN 1 END) AS n6f,
       |        count(CASE WHEN p.hamming <= 6 THEN 1 END) AS n6
       |      FROM pl p LEFT JOIN found f
       |        ON f.doc_a = p.doc_a AND f.doc_b = p.doc_b),
       |n AS (SELECT count(*) AS n_docs FROM corpus)
       |SELECT CAST(n.n_docs AS BIGINT) AS n_docs,
       |  m.n3m = 0 AS guaranteed_le3_ok,
       |  m.n6f >= m.n6 * 0.75 AS planted_recall_ok
       |FROM n CROSS JOIN m""".stripMargin

  /** The q152 SimHash pipeline as a shared CTE block ending in
    * `shd(doc_id, u, sh)` (per-doc signatures) and `found(doc_a,
    * doc_b, hamming)` (the banded pair list at Hamming <= 6) — consumed
    * by the q152 row-level oracle AND q36's certification oracle. */
  private def simhashChainCtes: String =
    s"""$plantedShingleCtes,
       |tok AS (SELECT DISTINCT doc_id,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS w FROM corpus),
       |th AS (SELECT doc_id, ${fnvSqlOf("w")} AS h FROM tok),
       |thd AS (SELECT DISTINCT doc_id, h FROM th),
       |bits AS (SELECT unnest(range(64)) AS b),
       |votes AS (SELECT doc_id, b,
       |    SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM thd CROSS JOIN bits GROUP BY doc_id, b),
       |shv AS (SELECT doc_id,
       |    SUM(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << b
       |        ELSE CAST(0 AS HUGEINT) END) AS u
       |  FROM votes GROUP BY doc_id),
       |shd AS (SELECT doc_id, u, ${wrapSigned("u")} AS sh FROM shv),
       |b4 AS (SELECT unnest(range(4)) AS band),
       |bnd AS (SELECT doc_id, u, sh, band,
       |    CAST((u >> (16 * band)) % 65536 AS BIGINT) AS bkey
       |  FROM shd CROSS JOIN b4),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.u AS ua, b.u AS ub, a.sh AS sha, b.sh AS shb, a.band AS band
       |  FROM bnd a JOIN bnd b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |fb AS (SELECT * FROM pr WHERE band = CASE
       |    WHEN ua % 65536 = ub % 65536 THEN 0
       |    WHEN (ua >> 16) % 65536 = (ub >> 16) % 65536 THEN 1
       |    WHEN (ua >> 32) % 65536 = (ub >> 32) % 65536 THEN 2 ELSE 3 END),
       |found AS (SELECT doc_a, doc_b,
       |    CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
       |  FROM fb WHERE bit_count(xor(sha, shb)) <= 6)""".stripMargin

  /** Full row-level oracle for the SimHash pair list: FNV-1a token
    * hashes (deduped by hash, like SimHash64's seen-set), 64 bit votes,
    * signature = positive-vote bits (unsigned, wrapped to the engine's
    * signed Long at the end), 4x16-bit band join with the engine's
    * first-matching-band dedup, Hamming <= 6 via bit_count(xor). */
  private def q152OracleSql: String =
    s"""WITH $simhashChainCtes
       |SELECT doc_a, doc_b, hamming FROM found
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The q245/q247 oracle's shared chain: [[semIndex]]'s train loop
    * replicated (normalize → √n seeds → E1 → fixed-point M → frozen
    * cells → existing residency `exa`) plus [[admissionDelta]] and its
    * frozen-cell assignment `nwa`. MATERIALIZED on every multi-consumer
    * CTE (the q230 exponential-inline lesson). */
  private[graft] val semAdmissionOracleCtes: String =
    """base AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |newb AS (
      |  SELECT vec_id + 200000 AS vec_id, list_transform(v, x -> x * 2.0) AS v
      |  FROM base WHERE vec_id % 3 = 0
      |  UNION ALL
      |  SELECT vec_id + 200000, list_reverse(v) FROM base WHERE vec_id % 3 = 1
      |  UNION ALL
      |  SELECT vec_id + 400000, list_transform(v, x -> x * 4.0)
      |  FROM base WHERE vec_id % 6 = 0),
      |nex AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
      |  FROM base),
      |nnw AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
      |  FROM newb),
      |p AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
      |      FROM nex),
      |seeds AS MATERIALIZED (
      |  SELECT vec_id AS cid, nv AS cv FROM nex
      |  ORDER BY vec_id LIMIT (SELECT c FROM p)),
      |d1 AS (SELECT n.vec_id, s.cid, n.nv,
      |         list_dot_product(n.nv, n.nv) - 2 * list_dot_product(n.nv, s.cv)
      |           + list_dot_product(s.cv, s.cv) AS d2
      |       FROM nex n CROSS JOIN seeds s),
      |a1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |         ORDER BY d2 ASC, cid ASC) AS rnk FROM d1),
      |asg1 AS (SELECT vec_id, cid, nv FROM a1 WHERE rnk = 1),
      |idx AS (SELECT unnest(range(1, 65)) AS i),
      |comp AS (SELECT cid, i, CAST(floor(nv[i] * 4294967296.0) AS BIGINT) AS fx
      |         FROM asg1 CROSS JOIN idx),
      |cent AS (SELECT cid, i, sum(fx) AS sm, count(*) AS n
      |         FROM comp GROUP BY cid, i),
      |cells AS MATERIALIZED (
      |  SELECT cid, list(CAST(sm AS DOUBLE) / 4294967296.0 / n ORDER BY i) AS cv
      |  FROM cent GROUP BY cid),
      |dex AS (SELECT n.vec_id, k.cid, n.nv,
      |          list_dot_product(n.nv, n.nv) - 2 * list_dot_product(n.nv, k.cv)
      |            + list_dot_product(k.cv, k.cv) AS d2
      |        FROM nex n CROSS JOIN cells k),
      |aex AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |          ORDER BY d2 ASC, cid ASC) AS rnk FROM dex),
      |exa AS MATERIALIZED (
      |  SELECT vec_id, cid AS cell, nv FROM aex WHERE rnk = 1),
      |dnw AS (SELECT n.vec_id, k.cid, n.nv,
      |          list_dot_product(n.nv, n.nv) - 2 * list_dot_product(n.nv, k.cv)
      |            + list_dot_product(k.cv, k.cv) AS d2
      |        FROM nnw n CROSS JOIN cells k),
      |anw AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |          ORDER BY d2 ASC, cid ASC) AS rnk FROM dnw),
      |nwa AS MATERIALIZED (
      |  SELECT vec_id, cid AS cell, nv FROM anw WHERE rnk = 1)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q30_text_stats" ->
      """SELECT doc_id, length(text) AS len_chars,
        |  len(string_split_regex(trim(text), '\s+')) AS n_words,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
        |  len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
        |  len(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t IN ('the', 'a', 'and', 'of'))) AS n_stop,
        |  CASE WHEN len(string_split_regex(trim(text), '\s+')) BETWEEN 20 AND 1000
        |        AND len(regexp_extract_all(text, '[^\w\s]')) / length(text) < 0.1
        |       THEN 'good' ELSE 'low' END AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q31_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS tk
        |           FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(tk, t -> t IN ('the', 'a', 'and', 'of', 'is'))) AS sc_en,
        |  len(list_filter(tk, t -> t IN ('der', 'die', 'das', 'und', 'ist'))) AS sc_de,
        |  len(list_filter(tk, t -> t IN ('le', 'la', 'et', 'les', 'est'))) AS sc_fr,
        |  len(list_filter(tk, t -> t IN ('el', 'la', 'y', 'los', 'es'))) AS sc_es
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN sc_de > sc_en THEN 'de' WHEN sc_fr > sc_en THEN 'fr'
        |       WHEN sc_es > sc_en THEN 'es' ELSE 'en' END AS guess,
        |  (CASE WHEN sc_de > sc_en THEN 'de' WHEN sc_fr > sc_en THEN 'fr'
        |        WHEN sc_es > sc_en THEN 'es' ELSE 'en' END) = lang AS hit
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q32_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q33_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents)
        |SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        |FROM corpus GROUP BY 1 ORDER BY keeper""".stripMargin,
    "q151_minhash_pairs" -> q151OracleSql,
    "q152_simhash_pairs" -> q152OracleSql,

    // Full row-level replica of the prefix-filter join: same FNV bigram
    // keys (distinct by signed key, like the engine's array_distinct
    // over fnv64), same (df, key) global order, same integer prefix
    // length (sz*8+9)//10, same 10*min>=8*max length filter, same
    // per-match positional filter in the join condition (valid as the
    // first-common-token bound by rank co-monotonicity — see
    // prefixFilterPairs), same exact overlap count — the oracle
    // reproduces the CANDIDATE GENERATION, not just the final pairs, so
    // a prefix-math divergence fails the gate even when the verified
    // output would coincide.
    "q161_prefix_filter_join" ->
      s"""WITH $plantedShingleCtes,
         |tg AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 2 THEN
         |    list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
         |    ELSE [] END) AS g
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
         |        FROM corpus)),
         |tok AS (SELECT doc_id, unnest(g) AS w FROM tg),
         |thu AS (SELECT doc_id, ${fnvSqlOf("w")} AS u FROM tok),
         |th AS (SELECT DISTINCT doc_id, ${wrapSigned("u")} AS h FROM thu),
         |szs AS (SELECT doc_id, COUNT(*) AS sz FROM th GROUP BY doc_id),
         |dfreq AS (SELECT h, COUNT(*) AS df FROM th GROUP BY h),
         |rk AS (SELECT t.doc_id, t.h, s.sz,
         |    row_number() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.h) AS rn
         |  FROM th t JOIN dfreq f USING (h) JOIN szs s USING (doc_id)),
         |pref AS (SELECT doc_id, sz, h, rn FROM rk
         |  WHERE rn <= sz - ((sz * 8 + 9) // 10) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pref a JOIN pref b ON a.h = b.h AND a.doc_id < b.doc_id
         |    AND a.sz * 10 >= b.sz * 8 AND b.sz * 10 >= a.sz * 8
         |    AND least(a.sz - a.rn, b.sz - b.rn) + 1
         |        >= (8 * (a.sz + b.sz) + 17) // 18),
         |ov AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
         |  FROM cand c JOIN th x ON x.doc_id = c.doc_a
         |              JOIN th y ON y.doc_id = c.doc_b AND y.h = x.h
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT o.doc_a, o.doc_b, o.n_shared,
         |  o.n_shared / (sa.sz + sb.sz - o.n_shared) AS jac
         |FROM ov o JOIN szs sa ON sa.doc_id = o.doc_a
         |          JOIN szs sb ON sb.doc_id = o.doc_b
         |WHERE o.n_shared * 10 >= (sa.sz + sb.sz - o.n_shared) * 8
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q34_ngram_jaccard" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:greatest(
        |      len(string_split_regex(trim(text), '\s+')) - 5, 1)], ' ')
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3 THEN
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
        |    ELSE [] END) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM corpus)),
        |ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh),
        |exd AS (SELECT doc_id, sz, s,
        |          COUNT(*) OVER (PARTITION BY s) AS df FROM ex)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  COUNT(*) / (a.sz + b.sz - COUNT(*)) AS jac
        |FROM exd a JOIN exd b ON a.s = b.s AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
        |HAVING COUNT(*) / (a.sz + b.sz - COUNT(*)) >= 0.5
        |  AND MIN(a.df) <= 256 -- engine's shingle df-cap: a pair must
        |                       -- share >= 1 cold shingle to be a candidate
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q128_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, q.label AS qlabel,
        |    c.vec_id AS nbr_id, c.label AS nlabel,
        |    round(list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) *
        |       sqrt(list_dot_product(c.v, c.v))), 4) AS score
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |hn AS (SELECT query_id, qlabel, nbr_id, score, ROW_NUMBER() OVER (
        |         PARTITION BY query_id ORDER BY score DESC, nbr_id ASC) AS rk
        |       FROM p WHERE nlabel <> qlabel),
        |hp AS (SELECT query_id, nbr_id, score, ROW_NUMBER() OVER (
        |         PARTITION BY query_id ORDER BY score ASC, nbr_id ASC) AS rk
        |       FROM p WHERE nlabel = qlabel),
        |a AS (SELECT DISTINCT query_id, qlabel FROM p)
        |SELECT a.query_id, a.qlabel AS label,
        |  hn.nbr_id AS hard_neg_id, hn.score AS hard_neg_score,
        |  hp.nbr_id AS hard_pos_id, hp.score AS hard_pos_score
        |FROM a
        |LEFT JOIN hn ON hn.query_id = a.query_id AND hn.rk = 1
        |LEFT JOIN hp ON hp.query_id = a.query_id AND hp.rk = 1
        |ORDER BY a.query_id""".stripMargin,
    "q129_incremental_dedup" ->
      """WITH base AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |corpus AS (
        |  SELECT doc_id AS corpus_id, md5(text) AS eh,
        |    list_distinct(CASE WHEN len(tk) >= 3 THEN
        |      list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
        |      ELSE [] END) AS sh
        |  FROM base),
        |delta0 AS (
        |  SELECT doc_id + 20000 AS doc_id, text FROM base WHERE doc_id % 10 = 4
        |  UNION ALL
        |  SELECT doc_id + 20000,
        |    array_to_string(tk[1:greatest(len(tk) - 5, 1)], ' ')
        |  FROM base WHERE doc_id % 10 = 7
        |  UNION ALL
        |  SELECT doc_id + 20000, array_to_string(list_reverse(tk), ' ')
        |  FROM base WHERE doc_id % 10 = 1),
        |delta AS (
        |  SELECT doc_id, md5(text) AS eh,
        |    list_distinct(CASE WHEN len(tk) >= 3 THEN
        |      list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
        |      ELSE [] END) AS sh
        |  FROM (SELECT doc_id, text,
        |          string_split_regex(trim(text), '\s+') AS tk FROM delta0)),
        |exact AS (
        |  SELECT d.doc_id, min(c.corpus_id) AS exact_match
        |  FROM delta d LEFT JOIN corpus c ON d.eh = c.eh
        |  GROUP BY d.doc_id),
        |cidx AS (SELECT corpus_id, unnest(sh) AS s FROM corpus),
        |cdf AS (SELECT s, COUNT(*) AS df FROM cidx GROUP BY s),
        |didx AS (SELECT doc_id, unnest(sh) AS s FROM delta),
        |cand AS (
        |  SELECT DISTINCT didx.doc_id, cidx.corpus_id
        |  FROM didx JOIN cidx ON didx.s = cidx.s
        |  JOIN cdf ON cdf.s = didx.s
        |  WHERE cdf.df <= 256),
        |scored AS (
        |  SELECT cand.doc_id, cand.corpus_id,
        |    len(list_intersect(d.sh, c.sh)) / (len(d.sh) + len(c.sh)
        |      - len(list_intersect(d.sh, c.sh))) AS jac
        |  FROM cand JOIN delta d ON d.doc_id = cand.doc_id
        |            JOIN corpus c ON c.corpus_id = cand.corpus_id),
        |best AS (
        |  SELECT doc_id, corpus_id AS near_match, jac, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY jac DESC, corpus_id ASC) AS rk
        |  FROM scored WHERE jac >= 0.5)
        |SELECT e.doc_id, e.exact_match, b.near_match, b.jac AS near_jac,
        |  (e.exact_match IS NULL AND b.near_match IS NULL) AS is_new
        |FROM exact e LEFT JOIN best b ON b.doc_id = e.doc_id AND b.rk = 1
        |ORDER BY e.doc_id""".stripMargin,
    "q89_matryoshka" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |h AS (SELECT vec_id, v, v[1 : len(v) // 2] AS h FROM e),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    round(list_dot_product(q.h, c.h) /
        |      (sqrt(list_dot_product(q.h, q.h)) *
        |       sqrt(list_dot_product(c.h, c.h))), 4) AS score_half,
        |    round(list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) *
        |       sqrt(list_dot_product(c.v, c.v))), 4) AS score_full
        |  FROM h q JOIN h c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY score_half DESC, nbr_id ASC) AS rnk FROM p)
        |SELECT query_id, nbr_id, score_half, score_full, rnk
        |FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,
    "q37_knn_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    round(list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4)
        |      AS score
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, nbr_id ASC) AS rnk FROM p)
        |SELECT query_id, nbr_id, score, rnk FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,
    "q66_int8_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx FROM e),
        |q AS (SELECT vec_id,
        |        list_transform(v, x -> CAST(round(x * 127.0 / mx) AS DOUBLE)) AS qv
        |      FROM m WHERE mx > 0),
        |n AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS qn FROM q),
        |p AS (SELECT a.vec_id AS query_id, b.vec_id AS nbr_id,
        |        round(list_dot_product(a.qv, b.qv) / (a.qn * b.qn), 4) AS score
        |      FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, nbr_id ASC) AS rnk FROM p)
        |SELECT query_id, nbr_id, score, rnk FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,
    "q38_dedup_embedding" ->
      """WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, label, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, label, list_transform(v, x -> x * 2.0) FROM base),
        |k AS (SELECT vec_id, label, v,
        |        floor(v[1] / sqrt(list_dot_product(v, v)) * 50) AS bkt FROM corpus)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
        |    AS score
        |FROM k a JOIN k b ON a.label = b.label AND a.bkt = b.bkt
        |  AND a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.99
        |ORDER BY vec_a, vec_b""".stripMargin,
    // BYTE-level head, not codepoints (r15 hostile-corpus finding):
    // the engine reads the first 8 raw UTF-8 bytes; ascii(substr(..))
    // returned CODEPOINTS (wrong values and counts on multi-byte
    // chars) and CAST(text AS BLOB) errors on non-ascii where
    // encode() is the defined STRING→UTF-8-bytes conversion. Short
    // docs emit exactly their byte count, empty docs ''.
    "q40_multimodal" ->
      """WITH b AS (SELECT doc_id, encode(text) AS bb FROM documents)
        |SELECT doc_id,
        |  octet_length(bb) AS n_bytes,
        |  coalesce(array_to_string(list_transform(
        |    range(1, CAST(least(octet_length(bb), 8) AS BIGINT) + 1),
        |    i -> CAST(('0x' || substr(hex(bb), CAST(2*i-1 AS INT), 2))
        |           AS INT)), ','), '') AS head_bytes,
        |  octet_length(bb) % 640 AS fake_width,
        |  3 AS fake_channels
        |FROM b ORDER BY doc_id""".stripMargin,
    // Round-trip contract for the ISO-BMFF walk: the engine built the
    // container from these exact formulas, so the oracle recomputes the
    // parse result independently; any byte-layout bug in mkMp4 OR
    // probeMp4 breaks a field and fails the hash gate.
    "q115_mp4_probe" ->
      """SELECT doc_id, 'mp4' AS format,
        |  CAST(320 + (doc_id % 64) * 16 AS INT) AS width,
        |  CAST(240 + (doc_id % 36) * 16 AS INT) AS height,
        |  (doc_id * 37 + 1000) * 1000 // (1000 + (doc_id % 7) * 100)
        |    AS duration_ms,
        |  CAST(1 AS INT) AS n_tracks
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Replicates decode+resize from the gradient formula: pixel
    // (x, y) of doc d is ((d%40)*31 + x*7 + y*13) % 256; a 4x4 box
    // average is the integer-division mean of each 4x4 block — the
    // whole path is integral, so a real ImageIO decode/resample bug
    // (color space, rounding, raster order) cannot hash-match.
    "q148_image_resize" ->
      """WITH px AS (
        |  SELECT d.doc_id, bx, by,
        |    ((d.doc_id % 40) * 31 + (bx * 4 + dx) * 7 + (by * 4 + dy) * 13)
        |      % 256 AS p
        |  FROM documents d
        |  CROSS JOIN range(4) tbx(bx) CROSS JOIN range(4) tby(by)
        |  CROSS JOIN range(4) tdx(dx) CROSS JOIN range(4) tdy(dy)),
        |pool AS (
        |  SELECT doc_id, by * 4 + bx AS j, CAST(sum(p) // 16 AS INT) AS v
        |  FROM px GROUP BY doc_id, bx, by)
        |SELECT doc_id,
        |  string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS thumb,
        |  CAST(sum(v) // 16 AS INT) AS mean_luma,
        |  CAST(max(v) AS INT) AS max_luma, CAST(min(v) AS INT) AS min_luma
        |FROM pool GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Shot count arithmetically (seeds advance every L frames, so
    // ceil(12/L) shots — a hash collision between adjacent shots in
    // the engine would under-count and fail here), first frame's hash
    // via the q123 pixel-formula bit chain (frame 0 is shot 0, seed =
    // doc_id % 40).
    "q198_shot_boundaries" ->
      """WITH px AS (
        |  SELECT d.doc_id, bx, by,
        |    ((d.doc_id % 40) * 31 + (bx * 2 + dx) * 7 + (by * 2 + dy) * 13)
        |      % 256 AS p
        |  FROM documents d
        |  CROSS JOIN range(8) tbx(bx) CROSS JOIN range(8) tby(by)
        |  CROSS JOIN range(2) tdx(dx) CROSS JOIN range(2) tdy(dy)),
        |pool AS (
        |  SELECT doc_id, by * 8 + bx AS j, sum(p) AS s
        |  FROM px GROUP BY doc_id, bx, by),
        |tot AS (SELECT doc_id, sum(s) AS total FROM pool GROUP BY doc_id),
        |bits AS (
        |  SELECT pool.doc_id,
        |    string_agg(CASE WHEN s * 64 > total THEN '1' ELSE '0' END,
        |      '' ORDER BY j) AS first_ahash
        |  FROM pool JOIN tot USING (doc_id) GROUP BY pool.doc_id),
        |sh AS (SELECT doc_id,
        |    (12 + (3 + doc_id % 3) - 1) // (3 + doc_id % 3) AS ns
        |  FROM documents)
        |SELECT b.doc_id, CAST(12 AS BIGINT) AS n_frames,
        |  CAST(s.ns AS BIGINT) AS n_shots,
        |  CAST(CAST((2 * 12 * 1000000 + s.ns) // (2 * s.ns) AS BIGINT)
        |    AS DOUBLE) / 1000000.0 AS mean_shot_len,
        |  b.first_ahash
        |FROM bits b JOIN sh s USING (doc_id) ORDER BY b.doc_id""".stripMargin,

    "q123_image_ahash_dedup" ->
      """WITH px AS (
        |  SELECT d.doc_id, bx, by,
        |    ((d.doc_id % 40) * 31 + (bx * 2 + dx) * 7 + (by * 2 + dy) * 13)
        |      % 256 AS p
        |  FROM documents d
        |  CROSS JOIN range(8) tbx(bx) CROSS JOIN range(8) tby(by)
        |  CROSS JOIN range(2) tdx(dx) CROSS JOIN range(2) tdy(dy)),
        |pool AS (
        |  SELECT doc_id, by * 8 + bx AS j, sum(p) AS s
        |  FROM px GROUP BY doc_id, bx, by),
        |tot AS (SELECT doc_id, sum(s) AS total FROM pool GROUP BY doc_id),
        |bits AS (
        |  SELECT pool.doc_id,
        |    string_agg(CASE WHEN s * 64 > total THEN '1' ELSE '0' END,
        |      '' ORDER BY j) AS ahash
        |  FROM pool JOIN tot USING (doc_id) GROUP BY pool.doc_id),
        |g AS (SELECT ahash, min(doc_id) AS canonical, count(*) AS group_sz
        |      FROM bits GROUP BY ahash)
        |SELECT doc_id, b.ahash, canonical, group_sz,
        |  doc_id != canonical AS is_dup
        |FROM bits b JOIN g USING (ahash) ORDER BY doc_id""".stripMargin,
    "q124_image_neardup" ->
      """WITH px AS (
        |  SELECT d.doc_id, bx, by,
        |    ((d.doc_id % 40) * 31 + (bx * 2 + dx) * 7 + (by * 2 + dy) * 13
        |     + CASE WHEN bx * 2 + dx = 0 AND by * 2 + dy = 0
        |            THEN (d.doc_id % 3) * 40 ELSE 0 END) % 256 AS p
        |  FROM documents d
        |  CROSS JOIN range(8) tbx(bx) CROSS JOIN range(8) tby(by)
        |  CROSS JOIN range(2) tdx(dx) CROSS JOIN range(2) tdy(dy)),
        |pool AS (
        |  SELECT doc_id, by * 8 + bx AS j, sum(p) AS s
        |  FROM px GROUP BY doc_id, bx, by),
        |tot AS (SELECT doc_id, sum(s) AS total FROM pool GROUP BY doc_id),
        |bits AS (
        |  SELECT pool.doc_id,
        |    string_agg(CASE WHEN s * 64 > total THEN '1' ELSE '0' END,
        |      '' ORDER BY j) AS ahash
        |  FROM pool JOIN tot USING (doc_id) GROUP BY pool.doc_id),
        |bands AS (
        |  SELECT doc_id, ahash, b AS band,
        |    substr(ahash, CAST(b * 16 + 1 AS INT), 16) AS bv
        |  FROM bits CROSS JOIN range(4) tb(b)),
        |cold AS (SELECT band, bv FROM bands GROUP BY band, bv
        |         HAVING count(*) <= 256),
        |capped AS (SELECT bands.* FROM bands JOIN cold USING (band, bv)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.ahash AS ha, b.ahash AS hb
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |h AS (
        |  SELECT doc_a, doc_b,
        |    len(list_filter(range(64), j -> substr(ha, CAST(j + 1 AS INT), 1)
        |      != substr(hb, CAST(j + 1 AS INT), 1))) AS hamming
        |  FROM cand)
        |SELECT doc_a, doc_b, hamming FROM h
        |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    "q125_audio_fp_dedup" ->
      """WITH sm AS (
        |  SELECT d.doc_id, t,
        |    ((d.doc_id % 30) * 37 + t * 13 + (d.doc_id % 4) * 7) % 4001
        |      - 2000 AS s
        |  FROM documents d CROSS JOIN range(4096) tt(t)),
        |fe AS (
        |  SELECT doc_id, t // 64 AS f, sum(s * s) AS e
        |  FROM sm GROUP BY 1, 2),
        |bits AS (
        |  SELECT a.doc_id,
        |    string_agg(CASE WHEN a.e > p.e THEN '1' ELSE '0' END,
        |      '' ORDER BY a.f) AS fp
        |  FROM fe a JOIN fe p ON a.doc_id = p.doc_id AND p.f = a.f - 1
        |  GROUP BY a.doc_id),
        |g AS (SELECT fp, min(doc_id) AS canonical, count(*) AS group_sz
        |      FROM bits GROUP BY fp)
        |SELECT doc_id, b.fp, canonical, group_sz,
        |  doc_id != canonical AS is_dup
        |FROM bits b JOIN g USING (fp) ORDER BY doc_id""".stripMargin,
    "q127_semantic_decontam" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |ev AS (SELECT vec_id AS eval_id, v AS av,
        |         sqrt(list_dot_product(v, v)) AS anrm
        |       FROM e WHERE vec_id % 10 = 0),
        |c AS (SELECT vec_id, v AS bv FROM e WHERE vec_id % 10 <> 0
        |      UNION ALL
        |      SELECT vec_id + 100000, list_transform(v, x -> x * 2)
        |      FROM e WHERE vec_id % 10 = 0 AND vec_id < 50),
        |cn AS (SELECT vec_id, bv, sqrt(list_dot_product(bv, bv)) AS bnrm
        |       FROM c),
        |p AS (SELECT cn.vec_id,
        |        max(struct_pack(s := round(list_dot_product(ev.av, cn.bv) /
        |          (ev.anrm * cn.bnrm), 4), n := -ev.eval_id)) AS m
        |      FROM cn CROSS JOIN ev GROUP BY 1)
        |SELECT vec_id, -m.n AS eval_id, m.s AS score,
        |  m.s >= 0.95 AS contaminated
        |FROM p ORDER BY vec_id""".stripMargin,
    // Self-certifying contract: the exact-pair counts are recomputed
    // genuinely (q34 semantics); the booleans pin the LSH/exact
    // relationship the engine verifies in-query — a recall or precision
    // regression flips one and fails the hash gate.
    // FULL recomputation (round 10 — the MinHash contract tier is
    // retired): the oracle re-derives BOTH pipelines independently —
    // the LSH pair set via q151's shared HUGEINT hash chain (lshp) and
    // the df-capped exact truth — and evaluates every boolean from its
    // own two sets, exactly the relationship the engine certifies.
    "q35_minhash_lsh" -> q35OracleSql,
    "q208_lsh_param_sweep" -> q208OracleSql,
    "q223_dedup_threshold_curve" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:greatest(
        |      len(string_split_regex(trim(text), '\s+')) - 5, 1)], ' ')
        |  FROM documents),
        |shl AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3 THEN
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
        |    ELSE [] END) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |        FROM corpus)),
        |shz AS (SELECT doc_id, len(sh) AS sz, sh FROM shl WHERE len(sh) > 0),
        |nc AS (SELECT COUNT(*) AS n_corpus FROM shz),
        |ex AS (SELECT doc_id, sz, unnest(sh) AS s FROM shz),
        |exd AS (SELECT doc_id, sz, s,
        |          COUNT(*) OVER (PARTITION BY s) AS df FROM ex),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) / (a.sz + b.sz - COUNT(*)) AS jac
        |  FROM exd a JOIN exd b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
        |  HAVING COUNT(*) / (a.sz + b.sz - COUNT(*)) >= 0.5
        |    AND MIN(a.df) <= 256),
        |ends AS (
        |  SELECT doc, MAX(jac) AS mj FROM (
        |    SELECT doc_a AS doc, jac FROM pairs
        |    UNION ALL SELECT doc_b, jac FROM pairs)
        |  GROUP BY 1),
        |t(threshold) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.6 AS DOUBLE)),
        |  (CAST(0.7 AS DOUBLE)), (CAST(0.8 AS DOUBLE))),
        |curve AS (
        |  SELECT t.threshold,
        |    (SELECT CAST(SUM(CASE WHEN jac >= t.threshold THEN 1 ELSE 0 END)
        |       AS BIGINT) FROM pairs) AS n_pairs,
        |    (SELECT CAST(SUM(CASE WHEN mj >= t.threshold THEN 1 ELSE 0 END)
        |       AS BIGINT) FROM ends) AS n_docs_covered,
        |    nc.n_corpus
        |  FROM t, nc)
        |SELECT threshold, n_pairs, n_docs_covered, n_corpus,
        |  CAST(CAST((2 * n_docs_covered::HUGEINT * 1000000 + n_corpus) //
        |    (2 * n_corpus::HUGEINT) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS doc_share
        |FROM curve ORDER BY threshold""".stripMargin,
    // FULL recomputation, same promotion: the banded pair list comes
    // from q152's shared chain (found), the planted-pair Hamming
    // distances directly from the replicated signatures (shd), and the
    // pigeonhole + recall booleans are evaluated genuinely.
    "q36_simhash" -> q36OracleSql,
    // Genuine full oracle: the Rademacher hyperplanes come from a fixed
    // multiplicative LCG — pure 64-bit arithmetic replicated here in
    // HUGEINT (128-bit) SQL, wrapped mod 2^64; plane sign = bit 33 of
    // the unsigned value, exactly the engine's (x >>> 33) & 1.
    "q39_ann_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |planes AS (
        |  SELECT j, list_transform(range(0, 64), i ->
        |    CASE WHEN ((((j*64 + i + 1)::HUGEINT * 6364136223846793005::HUGEINT
        |                 + 1442695040888963407::HUGEINT)
        |                % 18446744073709551616::HUGEINT
        |                + 18446744073709551616::HUGEINT)
        |               % 18446744073709551616::HUGEINT
        |               // 8589934592::HUGEINT) % 2 = 1
        |         THEN 1.0 ELSE -1.0 END) AS p
        |  FROM range(0, 32) t(j)),
        |buckets AS (
        |  SELECT e.vec_id, e.v, t.tbl,
        |    (SELECT sum(CASE WHEN list_dot_product(e.v, pl.p) > 0
        |                     THEN CAST(pow(2, pl.j - t.tbl*4) AS INT) ELSE 0 END)
        |     FROM planes pl WHERE pl.j >= t.tbl*4 AND pl.j < t.tbl*4 + 4) AS bucket
        |  FROM e, range(0, 8) t(tbl)),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id, q.v AS qv, c.v AS cv
        |  FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |scored AS (
        |  SELECT query_id, nbr_id,
        |    round(list_dot_product(qv, cv) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS score
        |  FROM cand),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, nbr_id ASC) AS rnk FROM scored)
        |SELECT query_id, nbr_id, score, rnk FROM r WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,
    // Genuine full oracle: centroids are FIXED-POINT means (exact integer
    // sums of floor(x * 2^32)), so both engines compute bit-identical
    // centroids regardless of aggregation order; every double op after
    // that is replicated in the same sequence.
    "q46_ann_ivf" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |idx AS (SELECT unnest(range(1, 65)) AS i),
        |comp AS (SELECT label, i, CAST(floor(v[i] * 4294967296.0) AS BIGINT) AS fx
        |         FROM e CROSS JOIN idx),
        |cent AS (SELECT label, i, sum(fx) AS s, count(*) AS n
        |         FROM comp GROUP BY label, i),
        |cells AS (SELECT label AS cell,
        |            list(CAST(s AS DOUBLE) / 4294967296.0 / n ORDER BY i) AS cv
        |          FROM cent GROUP BY label),
        |assign AS (
        |  SELECT e.vec_id, e.v, c.cell,
        |    list_dot_product(e.v, c.cv) /
        |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
        |      AS cell_score
        |  FROM e CROSS JOIN cells c),
        |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY cell_score DESC, cell ASC) AS rk FROM assign),
        |wc AS (SELECT vec_id, cell, v, sqrt(list_dot_product(v, v)) AS nrm
        |       FROM best WHERE rk = 1),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS score
        |  FROM wc q JOIN wc c ON q.cell = c.cell
        |    AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, nbr_id ASC) AS rnk FROM p)
        |SELECT query_id, nbr_id, score, rnk FROM r WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,
    // q46's centroid/assignment machinery with nprobe = 2 on the query
    // side: queries rank ALL cells (rk <= 2 probes), the corpus keeps
    // its top-1 posting-list assignment.
    "q131_ann_ivf_multiprobe" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |idx AS (SELECT unnest(range(1, 65)) AS i),
        |comp AS (SELECT label, i, CAST(floor(v[i] * 4294967296.0) AS BIGINT) AS fx
        |         FROM e CROSS JOIN idx),
        |cent AS (SELECT label, i, sum(fx) AS s, count(*) AS n
        |         FROM comp GROUP BY label, i),
        |cells AS (SELECT label AS cell,
        |            list(CAST(s AS DOUBLE) / 4294967296.0 / n ORDER BY i) AS cv
        |          FROM cent GROUP BY label),
        |assign AS (
        |  SELECT e.vec_id, e.v, c.cell,
        |    list_dot_product(e.v, c.cv) /
        |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
        |      AS cell_score
        |  FROM e CROSS JOIN cells c),
        |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY cell_score DESC, cell ASC) AS rk FROM assign),
        |wc AS (SELECT vec_id, cell, v, sqrt(list_dot_product(v, v)) AS nrm
        |       FROM best WHERE rk = 1),
        |qp AS (SELECT vec_id AS query_id, cell FROM best
        |       WHERE rk <= 2 AND vec_id < 10),
        |qv AS (SELECT vec_id AS query_id, v, nrm FROM wc WHERE vec_id < 10),
        |p AS (
        |  SELECT qp.query_id, c.vec_id AS nbr_id,
        |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS score
        |  FROM qp JOIN qv q ON q.query_id = qp.query_id
        |  JOIN wc c ON c.cell = qp.cell AND qp.query_id <> c.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, nbr_id ASC) AS rnk FROM p)
        |SELECT query_id, nbr_id, score, rnk FROM r WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,
    // q131's coarse stage + q132's PQ stage composed on RESIDUALS:
    // wc residualizes each vector against its assigned cell's centroid,
    // the sub-codebooks are fixed-point centroids OF residuals, and the
    // query re-residualizes per probed cell. Every float expression
    // mirrors the engine's term order; codeword reconstruction is the
    // same m-ordered flatten, so the ADC distance is one dot.
    // Full oracle on the same 1e-6 integer grid as the engine: every
    // rounded ratio is the identical half-up division (// floors, all
    // operands positive), the per-term 1e-12-unit products are exact
    // integers, and ranking/fusion casts BIGINT->DOUBLE exactly like
    // the engine — so lexical scores, both rank lists, and the RRF
    // fusion hash-match structurally, with no float grid anywhere.
    "q150_hybrid_retrieval" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, len(t) AS dl,
        |    len(list_filter(t, x -> x = 'join')) AS tf_join,
        |    len(list_filter(t, x -> x = 'filter')) AS tf_filter,
        |    len(list_filter(t, x -> x = 'hash')) AS tf_hash
        |  FROM tk),
        |tot AS (
        |  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len,
        |    SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
        |    SUM(CASE WHEN tf_filter > 0 THEN 1 ELSE 0 END) AS df_filter,
        |    SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash
        |  FROM tf),
        |n AS (
        |  SELECT doc_id, tf_join, tf_filter, tf_hash,
        |    n_docs, df_join, df_filter, df_hash,
        |    (2000000 * dl * n_docs + total_len) // (2 * total_len) AS nrm_e6
        |  FROM tf CROSS JOIN tot),
        |sc AS (
        |  SELECT doc_id,
        |    ((2000000 * (2 * (n_docs - df_join) + 1) + (2 * df_join + 1))
        |       // (2 * (2 * df_join + 1))) *
        |      ((44000000000000 * tf_join + (10000000 * tf_join + 3000000 + 9 * nrm_e6))
        |       // (2 * (10000000 * tf_join + 3000000 + 9 * nrm_e6))) +
        |    ((2000000 * (2 * (n_docs - df_filter) + 1) + (2 * df_filter + 1))
        |       // (2 * (2 * df_filter + 1))) *
        |      ((44000000000000 * tf_filter + (10000000 * tf_filter + 3000000 + 9 * nrm_e6))
        |       // (2 * (10000000 * tf_filter + 3000000 + 9 * nrm_e6))) +
        |    ((2000000 * (2 * (n_docs - df_hash) + 1) + (2 * df_hash + 1))
        |       // (2 * (2 * df_hash + 1))) *
        |      ((44000000000000 * tf_hash + (10000000 * tf_hash + 3000000 + 9 * nrm_e6))
        |       // (2 * (10000000 * tf_hash + 3000000 + 9 * nrm_e6))) AS ls_e12
        |  FROM n),
        |lex AS (
        |  SELECT doc_id, CAST(ROW_NUMBER() OVER
        |      (ORDER BY CAST(ls_e12 AS DOUBLE) DESC, doc_id ASC) AS INT) AS l_rank
        |  FROM sc WHERE ls_e12 > 0
        |  QUALIFY l_rank <= 20),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |ds AS (
        |  SELECT vec_id AS doc_id,
        |    round(list_dot_product(qv, v) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)
        |      AS score
        |  FROM e CROSS JOIN q WHERE vec_id <> 0),
        |dense AS (
        |  SELECT doc_id, CAST(ROW_NUMBER() OVER
        |      (ORDER BY score DESC, doc_id ASC) AS INT) AS d_rank
        |  FROM ds QUALIFY d_rank <= 20)
        |SELECT doc_id, l_rank, d_rank,
        |  CAST(coalesce((2000000 + (60 + l_rank)) // (2 * (60 + l_rank)), 0) +
        |       coalesce((2000000 + (60 + d_rank)) // (2 * (60 + d_rank)), 0)
        |    AS DOUBLE) / 1000000.0 AS fused
        |FROM lex FULL OUTER JOIN dense USING (doc_id)
        |ORDER BY fused DESC, doc_id""".stripMargin,

    // FULL replication (round 10 — the pinned-boolean contract tier is
    // retired for the kNN-graph family): the oracle re-derives the
    // planted corpus, the label-stratified sqrt-n seed cells, the
    // cosine argmax assignment, the top-2 probes, the blocked candidate
    // join, and the top-5 ranking, then computes every output column —
    // n_edges and both booleans — from ITS OWN graph. Tie orders mirror
    // the engine exactly (assignment/probes: score DESC, cell ASC =
    // max(struct(score, -cell)); ranking: score DESC, nbr ASC = the
    // TopK heap's beats()). A nbr lives in exactly one argmax cell, so
    // the probe join yields each (src, nbr) pair at most twice-probed
    // but once-joined — no DISTINCT needed, same as the engine.
    "q146_knn_graph" ->
      """WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, label, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, label, list_transform(v, x -> x * 2.0)
        |  FROM base),
        |e AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
        |      FROM corpus),
        |p AS (SELECT CAST(greatest(1,
        |        ceil(sqrt(count(*)) / count(DISTINCT label))) AS BIGINT) AS q
        |      FROM e),
        |cells AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM e
        |          QUALIFY row_number() OVER (PARTITION BY label
        |            ORDER BY vec_id) <= (SELECT q FROM p)),
        |sc AS (SELECT e.vec_id, c.cell, e.v, e.nrm,
        |         list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) AS s
        |       FROM e CROSS JOIN cells c),
        |wc AS (SELECT vec_id AS nbr_id, cell, v AS bv, nrm AS bnrm FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY s DESC, cell ASC) AS rnk FROM sc) WHERE rnk = 1),
        |pr AS (SELECT vec_id AS src_id, cell, v AS av, nrm AS anrm FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY s DESC, cell ASC) AS rnk FROM sc) WHERE rnk <= 2),
        |cand AS (SELECT pr.src_id, wc.nbr_id,
        |           round(list_dot_product(pr.av, wc.bv)
        |             / (pr.anrm * wc.bnrm), 4) AS score
        |         FROM pr JOIN wc ON wc.cell = pr.cell
        |           AND wc.nbr_id <> pr.src_id),
        |topk AS (SELECT src_id, nbr_id FROM (
        |           SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
        |             ORDER BY score DESC, nbr_id ASC) AS rnk FROM cand)
        |         WHERE rnk <= 5),
        |ed AS (SELECT count(*) AS n_edges,
        |         count(*) FILTER (WHERE nbr_id = src_id + 100000) AS n_pl
        |       FROM topk),
        |n AS (SELECT count(*) AS n_nodes FROM e)
        |SELECT n.n_nodes, CAST(ed.n_edges AS BIGINT) AS n_edges,
        |  ed.n_edges = 5 * n.n_nodes AS degree_ok,
        |  ed.n_pl = n.n_nodes // 2 AS planted_recall_ok
        |FROM n CROSS JOIN ed""".stripMargin,

    // q146's full-graph CTE chain + the NN-descent round replicated:
    // hub-capped undirected expand (forward edges + at most 5 reverse
    // edges per node — the 5 smallest in-neighbor ids, mirroring the
    // engine's sampled reverse direction), 2-hop ∪ 1-hop, distinct,
    // exact cosine rescore (the engine's op order and 4-dp rounding),
    // rank with the TopK heap's exact tie order. All 5n refined rows
    // compared.
    "q169_knn_descent" ->
      """WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, label, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, label, list_transform(v, x -> x * 2.0)
        |  FROM base),
        |e AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
        |      FROM corpus),
        |p AS (SELECT CAST(greatest(1,
        |        ceil(sqrt(count(*)) / count(DISTINCT label))) AS BIGINT) AS q
        |      FROM e),
        |cells AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM e
        |          QUALIFY row_number() OVER (PARTITION BY label
        |            ORDER BY vec_id) <= (SELECT q FROM p)),
        |sc AS (SELECT e.vec_id, c.cell, e.v, e.nrm,
        |         list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) AS s
        |       FROM e CROSS JOIN cells c),
        |wc AS (SELECT vec_id AS nbr_id, cell, v AS bv, nrm AS bnrm FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY s DESC, cell ASC) AS rnk FROM sc) WHERE rnk = 1),
        |pr AS (SELECT vec_id AS src_id, cell, v AS av, nrm AS anrm FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY s DESC, cell ASC) AS rnk FROM sc) WHERE rnk <= 2),
        |cnd AS (SELECT pr.src_id, wc.nbr_id,
        |          round(list_dot_product(pr.av, wc.bv)
        |            / (pr.anrm * wc.bnrm), 4) AS score
        |        FROM pr JOIN wc ON wc.cell = pr.cell
        |          AND wc.nbr_id <> pr.src_id),
        |topk AS (SELECT src_id, nbr_id FROM (
        |           SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
        |             ORDER BY score DESC, nbr_id ASC) AS rnk FROM cnd)
        |         WHERE rnk <= 5),
        |rev AS (SELECT nbr_id AS src_id, src_id AS nbr_id FROM (
        |          SELECT *, ROW_NUMBER() OVER (PARTITION BY nbr_id
        |            ORDER BY src_id) AS rr FROM topk) WHERE rr <= 5),
        |und AS (SELECT src_id, nbr_id FROM topk
        |        UNION ALL SELECT src_id, nbr_id FROM rev),
        |cand AS (SELECT DISTINCT src_id, cand_id FROM (
        |           SELECT x.src_id, y.nbr_id AS cand_id
        |           FROM und x JOIN und y ON y.src_id = x.nbr_id
        |           UNION ALL
        |           SELECT src_id, nbr_id FROM und) t
        |         WHERE src_id <> cand_id),
        |resc AS (SELECT c.src_id, c.cand_id,
        |           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
        |             AS score
        |         FROM cand c JOIN e a ON a.vec_id = c.src_id
        |           JOIN e b ON b.vec_id = c.cand_id),
        |ref AS (SELECT src_id, cand_id, score, ROW_NUMBER() OVER (
        |          PARTITION BY src_id ORDER BY score DESC, cand_id ASC)
        |          AS rnk
        |        FROM resc)
        |SELECT src_id, rnk, cand_id AS nbr_id, score
        |FROM ref WHERE rnk <= 5 ORDER BY src_id, rnk""".stripMargin,

    // FULL replication, q146's playbook with the label-free seed rule:
    // C = greatest(8, ceil(sqrt(n))) globally-smallest vec_ids. Every
    // output column — n_cells included — is recomputed from the
    // oracle's own graph; no pinned booleans.
    "q155_knn_graph_sqrtcells" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(v, x -> x * 2.0) FROM base),
        |e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |      FROM corpus),
        |p AS (SELECT CAST(greatest(8, ceil(sqrt(count(*)))) AS BIGINT) AS c
        |      FROM e),
        |cells AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM e
        |          ORDER BY vec_id LIMIT (SELECT c FROM p)),
        |sc AS (SELECT e.vec_id, c.cell, e.v, e.nrm,
        |         list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) AS s
        |       FROM e CROSS JOIN cells c),
        |wc AS (SELECT vec_id AS nbr_id, cell, v AS bv, nrm AS bnrm FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY s DESC, cell ASC) AS rnk FROM sc) WHERE rnk = 1),
        |pr AS (SELECT vec_id AS src_id, cell, v AS av, nrm AS anrm FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY s DESC, cell ASC) AS rnk FROM sc) WHERE rnk <= 2),
        |cand AS (SELECT pr.src_id, wc.nbr_id,
        |           round(list_dot_product(pr.av, wc.bv)
        |             / (pr.anrm * wc.bnrm), 4) AS score
        |         FROM pr JOIN wc ON wc.cell = pr.cell
        |           AND wc.nbr_id <> pr.src_id),
        |topk AS (SELECT src_id, nbr_id FROM (
        |           SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
        |             ORDER BY score DESC, nbr_id ASC) AS rnk FROM cand)
        |         WHERE rnk <= 5),
        |ed AS (SELECT count(*) AS n_edges,
        |         count(*) FILTER (WHERE nbr_id = src_id + 100000) AS n_pl
        |       FROM topk),
        |n AS (SELECT count(*) AS n_nodes FROM e)
        |SELECT n.n_nodes, (SELECT c FROM p) AS n_cells,
        |  CAST(ed.n_edges AS BIGINT) AS n_edges,
        |  ed.n_edges = 5 * n.n_nodes AS degree_ok,
        |  ed.n_pl = n.n_nodes // 2 AS planted_recall_ok
        |FROM n CROSS JOIN ed""".stripMargin,

    // Full replication of the q166 chain — planted corpus, L2
    // normalization, √n seeds, Euclidean E-step (same op sequence as
    // q138's oracle), the 2^32 fixed-point M-step, second E-step, and
    // the smaller-id-cellmate pruning rule. Every (vec_id, cell, keep)
    // row is genuinely re-derived; no pinned booleans.
    "q166_semdedup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(v, x -> x * 2.0) FROM base),
        |nrmv AS (SELECT vec_id,
        |           list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        |         FROM corpus),
        |p AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
        |      FROM nrmv),
        |seeds AS (SELECT vec_id AS cid, nv AS cv FROM nrmv
        |          ORDER BY vec_id LIMIT (SELECT c FROM p)),
        |d1 AS (SELECT n.vec_id, s.cid, n.nv,
        |         list_dot_product(n.nv, n.nv) - 2 * list_dot_product(n.nv, s.cv)
        |           + list_dot_product(s.cv, s.cv) AS d2
        |       FROM nrmv n CROSS JOIN seeds s),
        |a1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |         ORDER BY d2 ASC, cid ASC) AS rnk FROM d1),
        |asg1 AS (SELECT vec_id, cid, nv FROM a1 WHERE rnk = 1),
        |idx AS (SELECT unnest(range(1, 65)) AS i),
        |comp AS (SELECT cid, i, CAST(floor(nv[i] * 4294967296.0) AS BIGINT) AS fx
        |         FROM asg1 CROSS JOIN idx),
        |cent AS (SELECT cid, i, sum(fx) AS sm, count(*) AS n
        |         FROM comp GROUP BY cid, i),
        |cells AS (SELECT cid, list(CAST(sm AS DOUBLE) / 4294967296.0 / n
        |            ORDER BY i) AS cv
        |          FROM cent GROUP BY cid),
        |d2s AS (SELECT n.vec_id, k.cid, n.nv,
        |          list_dot_product(n.nv, n.nv) - 2 * list_dot_product(n.nv, k.cv)
        |            + list_dot_product(k.cv, k.cv) AS d2
        |        FROM nrmv n CROSS JOIN cells k),
        |a2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |         ORDER BY d2 ASC, cid ASC) AS rnk FROM d2s),
        |asg2 AS (SELECT vec_id, cid AS cell, nv FROM a2 WHERE rnk = 1),
        |pruned AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM asg2 b JOIN asg2 a ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.nv, b.nv) /
        |    (sqrt(list_dot_product(a.nv, a.nv)) *
        |     sqrt(list_dot_product(b.nv, b.nv))), 4) >= 0.99)
        |SELECT g.vec_id, g.cell, pr.vec_id IS NULL AS keep
        |FROM asg2 g LEFT JOIN pruned pr ON pr.vec_id = g.vec_id
        |ORDER BY g.vec_id""".stripMargin,

    // q166's train chain on the EXISTING side only, then the frozen-
    // index admission of the delta batch (the chain itself is
    // [[semAdmissionOracleCtes]], shared with q247's oracle).
    // q258: identical re-derivation, with the erased members (vec_id%5==2)
    // excluded from the ex-hit join only — cells and survivor assignments
    // stay frozen, proving erased members witness nothing.
    "q258_decremental_semdedup" ->
      s"""WITH $semAdmissionOracleCtes,
        |exh AS (
        |  SELECT b.vec_id, count(*) AS ex_hits
        |  FROM nwa b JOIN exa a ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE a.vec_id % 5 <> 2
        |    AND round(list_dot_product(a.nv, b.nv) /
        |    (sqrt(list_dot_product(a.nv, a.nv)) *
        |     sqrt(list_dot_product(b.nv, b.nv))), 4) >= 0.99
        |  GROUP BY 1),
        |nwh AS (
        |  SELECT b.vec_id, count(*) AS new_hits
        |  FROM nwa b JOIN nwa a ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.nv, b.nv) /
        |    (sqrt(list_dot_product(a.nv, a.nv)) *
        |     sqrt(list_dot_product(b.nv, b.nv))), 4) >= 0.99
        |  GROUP BY 1)
        |SELECT g.vec_id, g.cell,
        |  coalesce(e.ex_hits, 0) AS ex_hits,
        |  coalesce(w.new_hits, 0) AS new_hits,
        |  coalesce(e.ex_hits, 0) + coalesce(w.new_hits, 0) = 0 AS keep
        |FROM nwa g
        |LEFT JOIN exh e ON e.vec_id = g.vec_id
        |LEFT JOIN nwh w ON w.vec_id = g.vec_id
        |ORDER BY g.vec_id""".stripMargin,

    // q259: from-scratch reassignment of the SURVIVING vectors to the
    // frozen centroids — matching the engine's touched-cell-only
    // rewrite of the stored members artifact proves compacted ≡ rebuilt.
    "q259_sem_index_compaction" ->
      s"""WITH $semAdmissionOracleCtes
        |SELECT vec_id, cell FROM exa WHERE vec_id % 5 <> 2
        |ORDER BY vec_id""".stripMargin,

    "q245_incremental_semdedup" ->
      s"""WITH $semAdmissionOracleCtes,
        |exh AS (
        |  SELECT b.vec_id, count(*) AS ex_hits
        |  FROM nwa b JOIN exa a ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.nv, b.nv) /
        |    (sqrt(list_dot_product(a.nv, a.nv)) *
        |     sqrt(list_dot_product(b.nv, b.nv))), 4) >= 0.99
        |  GROUP BY 1),
        |nwh AS (
        |  SELECT b.vec_id, count(*) AS new_hits
        |  FROM nwa b JOIN nwa a ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.nv, b.nv) /
        |    (sqrt(list_dot_product(a.nv, a.nv)) *
        |     sqrt(list_dot_product(b.nv, b.nv))), 4) >= 0.99
        |  GROUP BY 1)
        |SELECT g.vec_id, g.cell,
        |  coalesce(e.ex_hits, 0) AS ex_hits,
        |  coalesce(w.new_hits, 0) AS new_hits,
        |  coalesce(e.ex_hits, 0) + coalesce(w.new_hits, 0) = 0 AS keep
        |FROM nwa g
        |LEFT JOIN exh e ON e.vec_id = g.vec_id
        |LEFT JOIN nwh w ON w.vec_id = g.vec_id
        |ORDER BY g.vec_id""".stripMargin,

    // q146's full-replication chain with the two sides split: cells and
    // the one-cell residency come from the EXISTING corpus only, probes
    // from the batch. Tie orders mirror the engine exactly (assignment:
    // s DESC, cell ASC; ranking: score DESC, nbr_id ASC).
    "q246_incremental_knn" ->
      """WITH base AS MATERIALIZED (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |e AS MATERIALIZED (
        |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
        |  FROM base),
        |nb AS (
        |  SELECT vec_id + 300000 AS vec_id, list_transform(v, x -> x * 2.0) AS v
        |  FROM base WHERE vec_id % 4 = 1
        |  UNION ALL
        |  SELECT vec_id + 300000, list_reverse(v) FROM base WHERE vec_id % 4 = 2),
        |nbn AS MATERIALIZED (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM nb),
        |p AS (SELECT CAST(greatest(1,
        |        ceil(sqrt(count(*)) / count(DISTINCT label))) AS BIGINT) AS q
        |      FROM e),
        |cells AS MATERIALIZED (
        |  SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM e
        |  QUALIFY row_number() OVER (PARTITION BY label
        |    ORDER BY vec_id) <= (SELECT q FROM p)),
        |scb AS (SELECT e.vec_id, c.cell, e.v, e.nrm,
        |          list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) AS s
        |        FROM e CROSS JOIN cells c),
        |wc AS MATERIALIZED (
        |  SELECT vec_id AS nbr_id, cell, v AS bv, nrm AS bnrm FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY s DESC, cell ASC) AS rnk FROM scb) WHERE rnk = 1),
        |scp AS (SELECT n.vec_id, c.cell, n.v, n.nrm,
        |          list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) AS s
        |        FROM nbn n CROSS JOIN cells c),
        |pr AS MATERIALIZED (
        |  SELECT vec_id AS src_id, cell, v AS av, nrm AS anrm FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY s DESC, cell ASC) AS rnk FROM scp) WHERE rnk <= 2),
        |cand AS (SELECT pr.src_id, wc.nbr_id,
        |           round(list_dot_product(pr.av, wc.bv)
        |             / (pr.anrm * wc.bnrm), 4) AS score
        |         FROM pr JOIN wc ON wc.cell = pr.cell
        |           AND wc.nbr_id <> pr.src_id)
        |SELECT src_id, nbr_id, score, rnk FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
        |    ORDER BY score DESC, nbr_id ASC) AS rnk FROM cand)
        |WHERE rnk <= 5
        |ORDER BY src_id, rnk""".stripMargin,

    "q145_ann_ivfpq" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |idx AS (SELECT unnest(range(1, 65)) AS i),
        |comp AS (SELECT label, i, CAST(floor(v[i] * 4294967296.0) AS BIGINT) AS fx
        |         FROM e CROSS JOIN idx),
        |cent AS (SELECT label, i, sum(fx) AS s, count(*) AS n
        |         FROM comp GROUP BY label, i),
        |cells AS (SELECT label AS cell,
        |            list(CAST(s AS DOUBLE) / 4294967296.0 / n ORDER BY i) AS cv
        |          FROM cent GROUP BY label),
        |assign AS (
        |  SELECT e.vec_id, e.label, e.v, c.cell,
        |    list_dot_product(e.v, c.cv) /
        |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
        |      AS cell_score
        |  FROM e CROSS JOIN cells c),
        |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY cell_score DESC, cell ASC) AS rk FROM assign),
        |wc AS (SELECT b.vec_id, b.label, b.cell,
        |         list_transform(range(1, 65), i -> b.v[i] - c.cv[i]) AS r
        |       FROM best b JOIN cells c ON c.cell = b.cell WHERE b.rk = 1),
        |comp2 AS (SELECT label, i, CAST(floor(r[i] * 4294967296.0) AS BIGINT) AS fx
        |          FROM wc CROSS JOIN idx),
        |cent2 AS (SELECT label, i, sum(fx) AS s, count(*) AS n
        |          FROM comp2 GROUP BY label, i),
        |rcells AS (SELECT label AS code,
        |             list(CAST(s AS DOUBLE) / 4294967296.0 / n ORDER BY i) AS rc
        |           FROM cent2 GROUP BY label),
        |ms AS (SELECT unnest(range(0, 8)) AS m),
        |cb AS (SELECT code, m, rc[(m*8+1):(m*8+8)] AS c8
        |       FROM rcells CROSS JOIN ms),
        |sub AS (SELECT vec_id, m, r[(m*8+1):(m*8+8)] AS sv
        |        FROM wc CROSS JOIN ms),
        |encd AS (
        |  SELECT sub.vec_id, sub.m, cb.code,
        |    list_dot_product(sv, sv) + list_dot_product(c8, c8)
        |      - 2 * list_dot_product(sv, c8) AS d
        |  FROM sub JOIN cb ON cb.m = sub.m),
        |enc1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
        |           ORDER BY d ASC, code ASC) AS rk FROM encd),
        |recon AS (SELECT e1.vec_id, flatten(list(cb.c8 ORDER BY cb.m)) AS rv
        |          FROM enc1 e1 JOIN cb ON cb.m = e1.m AND cb.code = e1.code
        |          WHERE e1.rk = 1 GROUP BY e1.vec_id),
        |r2 AS (SELECT rec.vec_id, w.cell, rec.rv,
        |         list_dot_product(rec.rv, rec.rv) AS nr
        |       FROM recon rec JOIN wc w ON w.vec_id = rec.vec_id),
        |qp AS (SELECT vec_id AS query_id, cell FROM best
        |       WHERE rk <= 2 AND vec_id < 10),
        |qr AS (SELECT qp.query_id, qp.cell,
        |         list_transform(range(1, 65), i -> e.v[i] - c.cv[i]) AS rq
        |       FROM qp JOIN e ON e.vec_id = qp.query_id
        |       JOIN cells c ON c.cell = qp.cell),
        |qr2 AS (SELECT query_id, cell, rq,
        |          list_dot_product(rq, rq) AS nrq FROM qr),
        |p AS (SELECT q.query_id, c.vec_id AS nbr_id,
        |        round(q.nrq + c.nr - 2 * list_dot_product(q.rq, c.rv), 4) AS dist
        |      FROM r2 c JOIN qr2 q ON q.cell = c.cell
        |        AND q.query_id <> c.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY dist ASC, nbr_id ASC) AS rnk FROM p)
        |SELECT query_id, nbr_id, dist, rnk FROM r WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,
    // q46's fixed-point centroids sliced into 8 sub-codebooks; encode =
    // per-(vector, subspace) argmin, ADC = exact query vs reconstructed
    // codeword. Distance expressions mirror the engine's term order.
    "q132_ann_pq" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |idx AS (SELECT unnest(range(1, 65)) AS i),
        |comp AS (SELECT label, i, CAST(floor(v[i] * 4294967296.0) AS BIGINT) AS fx
        |         FROM e CROSS JOIN idx),
        |cent AS (SELECT label, i, sum(fx) AS s, count(*) AS n
        |         FROM comp GROUP BY label, i),
        |cells AS (SELECT label AS code,
        |            list(CAST(s AS DOUBLE) / 4294967296.0 / n ORDER BY i) AS cv
        |          FROM cent GROUP BY label),
        |ms AS (SELECT unnest(range(0, 8)) AS m),
        |cb AS (SELECT code, m, cv[(m*8+1):(m*8+8)] AS c8
        |       FROM cells CROSS JOIN ms),
        |sub AS (SELECT vec_id, m, v[(m*8+1):(m*8+8)] AS sv
        |        FROM e CROSS JOIN ms),
        |encd AS (
        |  SELECT sub.vec_id, sub.m, cb.code,
        |    list_dot_product(sv, sv) + list_dot_product(c8, c8)
        |      - 2 * list_dot_product(sv, c8) AS d
        |  FROM sub JOIN cb ON cb.m = sub.m),
        |enc1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
        |           ORDER BY d ASC, code ASC) AS rk FROM encd),
        |recon AS (SELECT e1.vec_id, flatten(list(cb.c8 ORDER BY cb.m)) AS rv
        |          FROM enc1 e1 JOIN cb ON cb.m = e1.m AND cb.code = e1.code
        |          WHERE e1.rk = 1 GROUP BY e1.vec_id),
        |r2 AS (SELECT vec_id, rv, list_dot_product(rv, rv) AS nr FROM recon),
        |q AS (SELECT vec_id AS query_id, v AS av,
        |        list_dot_product(v, v) AS nq FROM e WHERE vec_id < 10),
        |p AS (SELECT q.query_id, c.vec_id AS nbr_id,
        |        round(q.nq + c.nr - 2 * list_dot_product(q.av, c.rv), 4) AS dist
        |      FROM r2 c CROSS JOIN q WHERE q.query_id <> c.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY dist ASC, nbr_id ASC) AS rnk FROM p)
        |SELECT query_id, nbr_id, dist, rnk FROM r WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,
    // fixed 16-bucket histogram; quantile = lower char bound of the first
    // bucket whose cumulative count reaches ceil(q * total)
    "q133_length_quantiles" ->
      """WITH d AS (SELECT source,
        |             least(15, CAST(floor(n_chars / 64) AS INT)) AS b
        |           FROM documents),
        |h AS (SELECT source, b, count(*) AS cnt FROM d GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total
        |      FROM h GROUP BY 1),
        |c AS (SELECT h.source, h.b,
        |        sum(h.cnt) OVER (PARTITION BY h.source ORDER BY h.b) AS cum,
        |        t.total
        |      FROM h JOIN t USING (source)),
        |p50 AS (SELECT source, min(b) * 64 AS p50_lo FROM c
        |        WHERE cum >= ceil(0.5 * total) GROUP BY 1),
        |p90 AS (SELECT source, min(b) * 64 AS p90_lo FROM c
        |        WHERE cum >= ceil(0.9 * total) GROUP BY 1)
        |SELECT t.source, t.total, p50.p50_lo, p90.p90_lo
        |FROM t JOIN p50 USING (source) JOIN p90 USING (source)
        |ORDER BY source""".stripMargin,
    // double hashing: two md5-derived 56-bit bases, perm p = h1 + p*h2
    // (overflow-free BIGINT on both engines); signature agreement over
    // 16 perms estimates source-pair Jaccard
    "q157_source_containment" ->
      """WITH t AS (SELECT source, string_split_regex(trim(text), '\s+') AS tk
        |           FROM documents),
        |sh AS (SELECT source, list_distinct(CASE WHEN len(tk) >= 3 THEN
        |         list_transform(range(1, len(tk) - 1),
        |           i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
        |       ELSE [] END) AS sh FROM t),
        |ex AS (SELECT DISTINCT source, g
        |       FROM (SELECT source, unnest(sh) AS g FROM sh)),
        |sizes AS (SELECT source, COUNT(*) AS n FROM ex GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    COUNT(*) AS inter
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, inter, sa.n AS n_a, sb.n AS n_b,
        |  CAST((2 * inter::HUGEINT * 1000000 + sa.n) // (2 * sa.n)
        |    AS BIGINT) / 1000000.0 AS cont_ab,
        |  CAST((2 * inter::HUGEINT * 1000000 + sb.n) // (2 * sb.n)
        |    AS BIGINT) / 1000000.0 AS cont_ba
        |FROM pairs JOIN sizes sa ON sa.source = pairs.source_a
        |           JOIN sizes sb ON sb.source = pairs.source_b
        |ORDER BY source_a, source_b""".stripMargin,

    "q134_source_minhash" ->
      """WITH tk AS (SELECT source,
        |              string_split_regex(trim(text), '\s+') AS tk
        |            FROM documents),
        |sh AS (SELECT source, unnest(CASE WHEN len(tk) >= 3 THEN
        |         list_transform(range(1, len(tk) - 1),
        |           i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
        |         ELSE [] END) AS s FROM tk),
        |hh AS (SELECT source,
        |         ('0x' || substr(md5(s), 1, 14))::BIGINT AS h1,
        |         ('0x' || substr(md5('x' || s), 1, 14))::BIGINT AS h2
        |       FROM sh),
        |ph AS (SELECT source, p, min(h1 + p * h2) AS h
        |       FROM hh CROSS JOIN (SELECT unnest(range(0, 16)) AS p)
        |       GROUP BY source, p),
        |sig AS (SELECT source, list(h ORDER BY p) AS sig FROM ph
        |        GROUP BY source)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i])) / 16.0
        |    AS jac_est
        |FROM sig a JOIN sig b ON a.source < b.source
        |ORDER BY src_a, src_b""".stripMargin,

    // q37's exact arm (rnk <= 3) + q46's full centroid/assign/probe
    // chain, then recall@3 on the half-up 1e-6 integer grid.
    "q170_ann_recall" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |xp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    round(list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4)
        |      AS score
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |xr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, nbr_id ASC) AS rnk FROM xp),
        |ex AS (SELECT query_id, nbr_id FROM xr WHERE rnk <= 3),
        |idx AS (SELECT unnest(range(1, 65)) AS i),
        |comp AS (SELECT label, i, CAST(floor(v[i] * 4294967296.0) AS BIGINT) AS fx
        |         FROM e CROSS JOIN idx),
        |cent AS (SELECT label, i, sum(fx) AS s, count(*) AS n
        |         FROM comp GROUP BY label, i),
        |cells AS (SELECT label AS cell,
        |            list(CAST(s AS DOUBLE) / 4294967296.0 / n ORDER BY i) AS cv
        |          FROM cent GROUP BY label),
        |assign AS (
        |  SELECT e.vec_id, e.v, c.cell,
        |    list_dot_product(e.v, c.cv) /
        |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
        |      AS cell_score
        |  FROM e CROSS JOIN cells c),
        |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY cell_score DESC, cell ASC) AS rk FROM assign),
        |wc AS (SELECT vec_id, cell, v, sqrt(list_dot_product(v, v)) AS nrm
        |       FROM best WHERE rk = 1),
        |ap AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS score
        |  FROM wc q JOIN wc c ON q.cell = c.cell
        |    AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |ar AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, nbr_id ASC) AS rnk FROM ap),
        |ann AS (SELECT query_id, nbr_id FROM ar WHERE rnk <= 3),
        |hits AS (SELECT ex.query_id, count(*) AS n_hit FROM ex
        |         JOIN ann ON ex.query_id = ann.query_id
        |                 AND ex.nbr_id = ann.nbr_id
        |         GROUP BY ex.query_id),
        |base AS (SELECT query_id, count(*) AS k FROM ex GROUP BY query_id)
        |SELECT b.query_id, b.k, coalesce(h.n_hit, CAST(0 AS BIGINT)) AS n_hit,
        |  CAST((2 * coalesce(h.n_hit, 0) * 1000000 + b.k) // (2 * b.k)
        |    AS BIGINT) / 1000000.0 AS recall
        |FROM base b LEFT JOIN hits h ON b.query_id = h.query_id
        |ORDER BY b.query_id""".stripMargin,

    // Gonzalez farthest-point traversal re-derived round by round: the
    // same 2^16 integer grid, exact integer squared distances, min-seed
    // and (d2 DESC, vec_id ASC) argmax — one unrolled CTE per round.
    // Unrolled greedy rounds read ch(r-1) three times each, so every
    // multi-referenced CTE is MATERIALIZED — DuckDB 1.0 inlines
    // un-hinted CTEs per reference, exponential in rounds (the q230
    // lesson: 94 s -> <1 s at sf0.01, identical rows).
    "q174_kcenter_coreset" -> {
      val rounds = (2 to 8).map { r =>
        s"""nx$r AS MATERIALIZED (
           |  SELECT $r AS rnk, vec_id, d2, f FROM (
           |    SELECT x.vec_id, x.f,
           |      CAST(min(list_sum(list_transform(range(1, 65),
           |        i -> (x.f[i] - c.f[i]) * (x.f[i] - c.f[i])))) AS BIGINT) AS d2
           |    FROM e x, ch${r - 1} c
           |    WHERE x.vec_id NOT IN (SELECT vec_id FROM ch${r - 1})
           |    GROUP BY x.vec_id, x.f)
           |  ORDER BY d2 DESC, vec_id ASC LIMIT 1),
           |ch$r AS MATERIALIZED (SELECT * FROM ch${r - 1} UNION ALL SELECT * FROM nx$r)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (SELECT vec_id,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * 65536.0) AS BIGINT)) AS f FROM embeddings),
         |ch1 AS MATERIALIZED (SELECT 1 AS rnk, vec_id, CAST(0 AS BIGINT) AS d2, f
         |        FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
         |$rounds
         |SELECT rnk, vec_id, d2 FROM ch8 ORDER BY rnk""".stripMargin
    },

    // The q146 cell/assign/probe chain over the RAW (unplanted)
    // embeddings, rank-1 per node with the heap's exact tie order, then
    // the mutual self-join on the reversed id pair.
    "q175_mutual_knn" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |               CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings),
        |p AS (SELECT CAST(greatest(1,
        |        ceil(sqrt(count(*)) / count(DISTINCT label))) AS BIGINT) AS q
        |      FROM e),
        |cells AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM e
        |          QUALIFY row_number() OVER (PARTITION BY label
        |            ORDER BY vec_id) <= (SELECT q FROM p)),
        |sc AS (SELECT e.vec_id, c.cell, e.v, e.nrm,
        |         list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) AS s
        |       FROM e CROSS JOIN cells c),
        |wc AS (SELECT vec_id AS nbr_id, cell, v AS bv, nrm AS bnrm FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY s DESC, cell ASC) AS rnk FROM sc) WHERE rnk = 1),
        |pr AS (SELECT vec_id AS src_id, cell, v AS av, nrm AS anrm FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY s DESC, cell ASC) AS rnk FROM sc) WHERE rnk <= 2),
        |cand AS (SELECT pr.src_id, wc.nbr_id,
        |           round(list_dot_product(pr.av, wc.bv)
        |             / (pr.anrm * wc.bnrm), 4) AS score
        |         FROM pr JOIN wc ON wc.cell = pr.cell
        |           AND wc.nbr_id <> pr.src_id),
        |r1 AS (SELECT src_id, nbr_id, score FROM (
        |         SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
        |           ORDER BY score DESC, nbr_id ASC) AS rnk FROM cand)
        |       WHERE rnk = 1)
        |SELECT a.src_id AS vec_a, a.nbr_id AS vec_b, a.score
        |FROM r1 a JOIN r1 b ON a.src_id = b.nbr_id AND a.nbr_id = b.src_id
        |  AND a.src_id < b.src_id
        |ORDER BY vec_a""".stripMargin,

    // The full q171 chain re-derived: 2^16 quantization, exact HUGEINT
    // moments -> covariance, 1e6-grid normalization, and all 20 power-
    // iteration rounds unrolled as generated CTEs (one w/m/v triple per
    // round), closing with the same grid Rayleigh quotient.
    "q171_embedding_pca" -> {
      val iters = (1 to 20).map { t =>
        val pv = if (t == 1) "v0" else s"v${t - 1}"
        // AS MATERIALIZED: DuckDB inlines plain CTEs at every reference,
        // and each round references the previous twice — without
        // materialization the 20-round chain expands 2^20 scans.
        s"""w$t AS MATERIALIZED (SELECT c.i, sum(c.cv * v.val) AS raw FROM cn c
           |  JOIN $pv v ON c.j = v.j GROUP BY c.i),
           |m$t AS MATERIALIZED (SELECT max(abs(raw)) AS mx FROM w$t),
           |v$t AS MATERIALIZED (SELECT i AS j, CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
           |    WHEN raw >= 0 THEN CAST((raw::HUGEINT * 1000000) // mx AS BIGINT)
           |    ELSE -CAST(((-raw)::HUGEINT * 1000000) // mx AS BIGINT) END AS val
           |  FROM w$t, m$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * 65536.0) AS BIGINT)) AS f FROM embeddings),
         |nn AS (SELECT count(*)::HUGEINT AS n FROM e),
         |idx AS (SELECT unnest(range(1, 65)) AS i),
         |mm AS (SELECT i, sum(f[i])::HUGEINT AS m FROM e CROSS JOIN idx GROUP BY i),
         |sp AS (SELECT ii.i AS i, jj.i AS j, sum(f[ii.i] * f[jj.i])::HUGEINT AS sp
         |       FROM e CROSS JOIN idx ii CROSS JOIN idx jj GROUP BY ii.i, jj.i),
         |cov AS (SELECT s.i, s.j, nn.n * s.sp - m1.m * m2.m AS cov
         |        FROM sp s, nn, mm m1, mm m2 WHERE m1.i = s.i AND m2.i = s.j),
         |cmm AS (SELECT max(abs(cov)) AS cmx FROM cov),
         |cn AS MATERIALIZED (SELECT i, j, CASE WHEN cmx = 0 THEN CAST(0 AS BIGINT)
         |    WHEN cov >= 0 THEN CAST((cov * 1000000) // cmx AS BIGINT)
         |    ELSE -CAST(((-cov) * 1000000) // cmx AS BIGINT) END AS cv
         |  FROM cov, cmm),
         |v0 AS (SELECT i AS j, CAST(1000000 AS BIGINT) AS val FROM idx),
         |$iters,
         |wf AS (SELECT c.i, sum(c.cv * v.val) AS raw FROM cn c
         |  JOIN v20 v ON c.j = v.j GROUP BY c.i),
         |ld AS (SELECT sum(w.raw::HUGEINT * v.val) AS num,
         |         sum(v.val::HUGEINT * v.val) AS den
         |       FROM wf w JOIN v20 v ON w.i = v.j),
         |lam AS (SELECT CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
         |    WHEN num >= 0 THEN CAST((num * 1000000) // den AS BIGINT)
         |    ELSE -CAST(((-num) * 1000000) // den AS BIGINT) END AS lm FROM ld)
         |SELECT v.j AS dim, CAST(v.val AS DOUBLE) / 1000000.0 AS comp,
         |  CAST(lm AS DOUBLE) / 1000000.0 AS ev_lambda
         |FROM v20 v, lam ORDER BY dim""".stripMargin
    },

    // The fixed-point centroid, the relevance distances, then all 8
    // greedy MMR rounds unrolled with the engine's exact
    // (mmr ASC, vec_id ASC) pick order. Every multi-referenced CTE is
    // MATERIALIZED: each round reads ch(r-1) three times, and DuckDB
    // 1.0 inlines un-hinted CTEs, re-evaluating the whole prior chain
    // per reference — exponential in rounds (~10 min at sf0.01, <1 s
    // materialized; same rows either way).
    "q230_mmr_select" -> {
      val rounds = (2 to 8).map { r =>
        s"""nx$r AS MATERIALIZED (
           |  SELECT $r AS rnk, vec_id, d2q, dmin,
           |    7 * d2q - 3 * dmin AS mmr, f FROM (
           |    SELECT x.vec_id, x.f, x.d2q,
           |      CAST(min(list_sum(list_transform(range(1, 65),
           |        i -> (x.f[i] - c.f[i]) * (x.f[i] - c.f[i])))) AS BIGINT)
           |        AS dmin
           |    FROM rel x, ch${r - 1} c
           |    WHERE x.vec_id NOT IN (SELECT vec_id FROM ch${r - 1})
           |    GROUP BY x.vec_id, x.f, x.d2q)
           |  ORDER BY mmr ASC, vec_id ASC LIMIT 1),
           |ch$r AS MATERIALIZED (SELECT * FROM ch${r - 1} UNION ALL SELECT * FROM nx$r)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * 65536.0) AS BIGINT)) AS f FROM embeddings),
         |m AS (SELECT t.i AS i, CAST(SUM(e.f[t.i]) AS BIGINT) AS sx,
         |        COUNT(*) AS n
         |      FROM e, range(1, 65) t(i) GROUP BY t.i),
         |cqv AS (SELECT list(CASE WHEN sx >= 0 THEN sx // n
         |          ELSE -((-sx) // n) END ORDER BY i) AS cf FROM m),
         |rel AS MATERIALIZED (SELECT vec_id, f,
         |    CAST(list_sum(list_transform(range(1, 65),
         |      i -> (f[i] - cf[i]) * (f[i] - cf[i]))) AS BIGINT) AS d2q
         |  FROM e, cqv),
         |ch1 AS MATERIALIZED (SELECT 1 AS rnk, vec_id, d2q, CAST(0 AS BIGINT) AS dmin,
         |          7 * d2q AS mmr, f
         |        FROM rel ORDER BY 7 * d2q ASC, vec_id ASC LIMIT 1),
         |$rounds
         |SELECT rnk, vec_id, d2q, dmin, mmr FROM ch8 ORDER BY rnk"""
        .stripMargin
    },

    // q34's chain keeping sizes and the exact intersection count, then
    // the containment grid division and the precedence CASE.
    "q240_dup_relation" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:greatest(
        |      len(string_split_regex(trim(text), '\s+')) - 5, 1)], ' ')
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3 THEN
        |    list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
        |    ELSE [] END) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |        FROM corpus)),
        |ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh),
        |exd AS (SELECT doc_id, sz, s,
        |          COUNT(*) OVER (PARTITION BY s) AS df FROM ex),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.sz AS sz_a, b.sz AS sz_b, COUNT(*) AS inter,
        |    COUNT(*) / (a.sz + b.sz - COUNT(*)) AS jac
        |  FROM exd a JOIN exd b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
        |  HAVING COUNT(*) / (a.sz + b.sz - COUNT(*)) >= 0.5
        |    AND MIN(a.df) <= 256)
        |SELECT doc_a, doc_b, CAST(sz_a AS BIGINT) AS sz_a,
        |  CAST(sz_b AS BIGINT) AS sz_b, CAST(inter AS BIGINT) AS inter,
        |  jac,
        |  CAST(CAST((2 * inter * 1000000 + LEAST(sz_a, sz_b)) //
        |    (2 * LEAST(sz_a, sz_b)) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS containment,
        |  CASE WHEN (2 * inter * 1000000 + LEAST(sz_a, sz_b)) //
        |      (2 * LEAST(sz_a, sz_b)) >= 900000 THEN 'contained'
        |    WHEN jac >= 0.8 THEN 'near_copy'
        |    ELSE 'partial_overlap' END AS relation
        |FROM pr ORDER BY doc_a, doc_b""".stripMargin
  )
}
