package graft.operators

import graft.Tables
import graft.api.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Document deduplication — the north-star LLM-training-data operators
  * (BASELINE.json): exact, MinHash+LSH, n-gram Jaccard, SimHash.
  *
  * The reference's only dedup is key-membership (`aws_bucket.py:180-182`);
  * these generalize it to content dedup over the `documents` table.
  *
  * Scale design (the whole point of these ops at 100 TB):
  *  - exact: hash-groupBy — one shuffle on a 128-bit digest, no text ever
  *    crosses the wire (md5 computed map-side, text dropped before the
  *    exchange).
  *  - MinHash+LSH: per-doc signatures are computed in a single pass
  *    (explode shingles × seeds → min-hash per seed = map-side partial
  *    min), then docs are joined only within LSH band buckets — the
  *    candidate join is |bucket|² per bucket instead of n² global. The
  *    expensive exact-Jaccard verify runs ONLY on candidates.
  *  - n-gram Jaccard: exact pairwise similarity, blocked by
  *    (lang, length band) so the self-join never goes quadratic in n,
  *    only in the block size.
  *  - SimHash: 32-bit frequency-weighted signature; near-dup = hamming
  *    distance ≤ 3 within a language block. Signature computation is one
  *    aggregation; comparison is integer xor+popcount — cheapest of the
  *    three at scale.
  * All hashing is md5-based (lexicographic min over hex strings) —
  * bit-identical in Spark and DuckDB, which keeps the oracle exact.
  */
object DedupOps {

  private[graft] val bigramsSqlExpr =
    "list_distinct(list_transform(range(1, len(string_split(text,' '))), " +
      "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))"

  /** The dedup family's MinHash signature table (Graft.minhashSignatures
    * over the spread corpus), session-memoized: every minhash key and the
    * band-cap check in Verify read one build per session. */
  private[graft] def minhashSigs(s: SparkSession, dir: String): DataFrame =
    Graft.memoizedExchange("dedup_minhash_sigs", s, dir) {
      Graft.minhashSignatures(Tables.documentsSpread(s, dir), "doc_id", "text")
    }

  /** (doc_id, band) rows of a signature table, in Graft.lshBandKeys' layout. */
  private[graft] def lshBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(Graft.lshBandKeys(col("mhs"))).as("band"))

  /** Largest LSH band bucket on this corpus — the fixture assumption
    * behind every capped-pairs minhash oracle (r9 advice): the Spark
    * side degrades bands above 4096 members to a star around the band
    * min, while the DuckDB oracles enumerate ALL band-sharing pairs, so
    * the two engines legitimately diverge on any corpus with a hotter
    * band. Verify asserts this stays under the cap so the divergence
    * condition is CHECKED per run rather than assumed. */
  private[graft] def maxLshBandSize(s: SparkSession, dir: String): Long =
    lshBands(minhashSigs(s, dir))
      .groupBy(col("band")).agg(count(lit(1)).as("m"))
      .agg(max(col("m")).as("mx")).head.getLong(0)

  /** doc_id → (doc_id, sorted bigram shingles), via the native
    * [[graft.functions.TextSignatures.WordBigrams]] single-pass
    * tokenizer (the HOF form costs ~1 ms/doc interpreted; see
    * TextSignatures scaladoc). The repartition inserts an exchange that
    * MATERIALIZES the shingle arrays before any self-join: without it
    * Catalyst collapses this projection into the join and re-tokenizes
    * both documents once per candidate PAIR instead of once per row.
    * Sorting (inside WordBigrams, once per doc, pre-exchange) is what
    * lets the per-pair intersect be a merge walk. The inner
    * documentsSpread round-robin exchange parallelizes the shingling
    * itself (the local scan is one split — see Tables.documentsSpread);
    * the projection sits between two differently-keyed exchanges so it
    * runs exactly once per document, on all cores. */
  /** Analytic b=6, r=2 S-curve 1 − (1 − s²)⁶ at the similarity-bin
    * midpoint s = min((2·bin+1)/20, 1), as ONE expression string both
    * engines parse: every multiplication is written out left-assoc so
    * the IEEE operation sequence — and therefore the 6-dp rounding —
    * is identical by construction (a pow() call would leave each
    * engine's libm to disagree in the last ulp). The literals carry
    * e0 exponents because a bare `1.0` parses as DECIMAL in Spark SQL
    * but DOUBLE in DuckDB — the scientific form is DOUBLE in both, so
    * the shared text really does run the same arithmetic. */
  private val sCurveExpr: String = {
    val s = "least((2 * bin + 1) / 20.0e0, 1.0e0)"
    val q = s"(1.0e0 - $s * $s)"
    s"round(1.0e0 - ($q * $q * $q * $q * $q * $q), 6)"
  }

  private[graft] def shingled(s: SparkSession, dir: String): DataFrame =
    Graft.memoizedExchange("dedup_shingled", s, dir) {
      Tables.documentsSpread(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
                graft.functions.TextSignatures.wordBigramHashes(col("text")).as("bg"))
        .repartition(col("doc_id"))
    }

  /** Blocked + SALTED self-join emitting (a_id, b_id, j) pairs with
    * exact Jaccard ≥ `threshold`, blocked by (lang, 128-char band).
    *
    * Salting is the skew fix for n² blocks: pair work concentrates in
    * the biggest (lang, band) block (sf0.1: the top `en` block alone is
    * 155k of 740k pairs, and several `en` blocks can hash to the SAME
    * task — the slowest partition serializes ~0.9 s of merge walks).
    * Side `a` keeps one salt = hash(doc_id) % S; side `b` is replicated
    * to all S salts, so every (x, y), x<y pair matches exactly once on
    * (block, salt(x)) — identical output, S× finer task granularity.
    * The explicit fixed-width repartition doubles as the materialization
    * barrier for `bg` AND pins the partition count: AQE's bytes-based
    * coalescing would see a few MB of shuffle and fold this CPU-bound
    * join into one task. At 100 TB: S scales with the square of the
    * biggest block / target task time; bytes-based AQE stays wrong for
    * compute-bound pair joins, so the explicit layout stays. */
  // The OUTPUT (dozens-of-rows pair list) is session-memoized: six
  // registered queries (ngram_jaccard, edit_distance, cluster ×3,
  // cross_source) consume the same pair graph, and before r9 each
  // re-ran the full salted candidate join (the r8 dedup_edit_distance
  // regression was exactly this recompute). The un-checkpointed build
  // plan stays visible via jaccardPairsBuild for the plan-invariant
  // specs.
  private def jaccardPairs(s: SparkSession, dir: String, threshold: Double): DataFrame =
    Graft.memoizedExchange(
        s"dedup_jaccard_pairs_$threshold", s, dir) {
      jaccardPairsBuild(s, dir, threshold)
    }

  private[graft] def jaccardPairsBuild(s: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val salts = 8
    val width = Tables.spreadWidth(s)
    val sh = shingled(s, dir)
      // shingle-less (<2-token ⇔ zero-bigram) docs can form no
      // qualifying pair: their Jaccard is 0 or 0/0=NaN, both below
      // threshold. `size(bg) > 0` is safe ON THE CHECKPOINT (pre-r9 the
      // same predicate on the raw lineage was predicate-pushed below
      // the exchange and re-tokenized the corpus single-threaded).
      .filter(size(col("bg")) > 0)
      .select(col("doc_id"), col("lang"),
              (col("n_chars") / 128).cast("long").as("band"), col("bg"))
    val a = sh.withColumn("salt", pmod(hash(col("doc_id")), lit(salts)))
      .repartition(width, col("lang"), col("band"), col("salt"))
    val b = sh.withColumn("salt", explode(array((0 until salts).map(lit(_)): _*)))
      .repartition(width, col("lang"), col("band"), col("salt"))
    // J >= threshold sits INSIDE the join condition: the join emits only
    // surviving pairs, never materializing the 10^5-10^6 banded pairs.
    // Size precondition short-circuits before the walk: J >= t implies
    // |a| >= t·|b| and |b| >= t·|a| (intersection <= min, union >= max).
    a.as("a").join(b.as("b"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
        col("a.salt") === col("b.salt") &&
        col("a.doc_id") < col("b.doc_id") &&
        size(col("a.bg")).cast("double") >= lit(threshold) * size(col("b.bg")) &&
        size(col("b.bg")).cast("double") >= lit(threshold) * size(col("a.bg")) &&
        Graft.jaccard(col("a.bg"), col("b.bg")) >= threshold)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
              Graft.jaccard(col("a.bg"), col("b.bg")).as("j"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Chunk-level dedup on CONTENT-DEFINED boundaries — the CAS/dedup-
    // store census (what a chunked blob store saves vs whole-file
    // hashing): documents chunk at the rolling-hash boundaries
    // (TextSignatures.CdcBoundaries, the ta_cdc_chunking chunker —
    // edits only reshape the chunks they touch, so shared runs dedup
    // even when whole docs differ), each chunk md5-keyed, and the
    // single-row census reports distinct/duplicate chunk counts,
    // cross-document sharing, and the exact bytes a content-addressed
    // store would not write twice. Scale: chunk extraction is
    // map-side HOF substring over the boundary array (~len/16 chunks
    // per doc); the only shuffle is the chunk-hash aggregate, keyed
    // uniformly by md5 — no skew, no pair joins anywhere.
    "dedup_cdc_chunks" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .filter(col("text").isNotNull && length(col("text")) >= 8)
        .select(col("doc_id"), col("text"),
                length(col("text")).cast("long").as("len"),
          graft.functions.TextSignatures.cdcBoundaries(col("text")).as("bnd"))
      val chunks = d
        .withColumn("ends",
          array_sort(array_union(col("bnd"), array(col("len")))))
        .withColumn("begs",
          expr("concat(array(0L), slice(ends, 1, size(ends) - 1))"))
        .select(col("doc_id"), explode(expr(
          "zip_with(begs, ends, (b, e) -> " +
          "substring(text, CAST(b + 1 AS INT), CAST(e - b AS INT)))"))
          .as("chunk"))
      chunks
        .select(col("doc_id"), md5(col("chunk")).as("h"),
                length(col("chunk")).cast("long").as("clen"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd"),
             max(col("clen")).as("clen"))
        .agg(count(lit(1)).as("n_distinct_chunks"),
             sum(col("n")).as("n_chunks"),
             sum(when(col("n") > 1, (col("n") - 1) * col("clen"))
               .otherwise(0L)).as("dup_bytes_saved"),
             sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_cross_doc"),
             max(col("n")).as("max_dup"))
    }),

    // MinHash estimator-quality audit — the measurement that closes
    // the minhash family: for every LSH candidate pair, the signature
    // ESTIMATE (matching positions / 12) against the EXACT shingle
    // Jaccard, binned by exact similarity. E[est] = J with σ =
    // √(J(1−J)/12), so the audit answers "is 12 permutations enough
    // at my threshold" with data, not the formula (band_tuning gives
    // the S-curve; this gives the residuals). Everything lands as e6
    // integers (est = matches·1e6 div 12, exact J = inter·1e6 div
    // union of the distinct hashed-shingle sets) — fully
    // deterministic, no FP anywhere. Cost: the shared signature and
    // shingle exchanges + the capped band join both LSH queries
    // already pay; the only new work is one 12-position compare and
    // one merge-walk intersect per candidate.
    "dedup_minhash_estimate_audit" -> ((s, dir) => {
      val sigs = minhashSigs(s, dir)
      val sh = shingled(s, dir).filter(size(col("bg")) > 0)
        .select(col("doc_id"), col("bg"))
      val cand = Graft.cappedBucketPairs(
          lshBands(sigs).join(sigs, "doc_id"), Seq("band"), "doc_id", 4096,
          carryCols = Seq("mhs"))
      val est = cand.withColumn("matches", expr(
          "size(filter(sequence(1, 12), " +
          "k -> element_at(mhs_a, k) = element_at(mhs_b, k)))"))
        .select(col("a_id"), col("b_id"),
                expr("matches * 1000000 div 12").as("est_e6"))
      est.join(sh.select(col("doc_id").as("a_id"), col("bg").as("bg_a")), "a_id")
        .join(sh.select(col("doc_id").as("b_id"), col("bg").as("bg_b")), "b_id")
        .withColumn("inter",
          graft.functions.SortedIntersectCount.sortedIntersectCountLong(
            col("bg_a"), col("bg_b")))
        .withColumn("j_e6",
          expr("inter * 1000000 div (size(bg_a) + size(bg_b) - inter)"))
        .withColumn("bin", expr("j_e6 div 100000"))
        .withColumn("err", abs(col("est_e6") - col("j_e6")))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"),
             expr("sum(err) div count(1)").as("mean_abs_err_e6"),
             max(col("err")).as("max_abs_err_e6"))
        .orderBy(col("bin"))
    }),

    // Exact dedup: md5-groupBy summary + rows removed under keep-first.
    // MinHash band-tuning advisor — the measurement behind choosing
    // the (bands × rows) LSH layout: for every factorization of the
    // 12-perm signature, the ACTUAL candidate-pair volume this corpus
    // would generate (Σ m·(m−1)/2 over band buckets — the real cost of
    // the banding join) next to the config's S-curve similarity
    // threshold (1/b)^(1/r). Wider bands → fewer, higher-precision
    // candidates; this table is how you trade recall for join volume
    // BEFORE running the n² verify at 100 TB. Bucket sizes are one
    // band-keyed aggregate per config over the shared signature table;
    // nothing quadratic runs here — that is the point.
    // Single-partition census (r11 verdict #6 sweep, ledger shows 5):
    // one per config — each is the keyless top-line agg over that
    // config's band histogram, whose SinglePartition exchange carries
    // only the map-side partial rows (≤ one per input partition), never
    // the histogram itself; the 5 signature reads all hit the
    // session-memoized dedup_minhash_sigs checkpoint (via_memo).
    "dedup_minhash_band_tuning" -> ((s, dir) => {
      val sigs = minhashSigs(s, dir) // already session-checkpointed
      Seq((12, 1), (6, 2), (4, 3), (3, 4), (2, 6)).map { case (b, r) =>
        sigs.select(explode(Graft.lshBandKeys(col("mhs"), b, r)).as("band"))
          .groupBy(col("band")).agg(count(lit(1)).as("m"))
          .agg(lit(b).as("n_bands"), lit(r).as("rows_per_band"),
               sum(expr("m * (m - 1) div 2")).as("n_candidates"))
          .withColumn("s_threshold_e6",
            floor(pow(lit(1.0) / col("n_bands"), lit(1.0) / col("rows_per_band"))
                  * 1e6 + 0.5).cast("long"))
      }.reduce(_ union _).orderBy(col("n_bands").desc)
    }),

    "dedup_exact" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_total"),
             countDistinct(col("h")).as("n_unique"),
             (count(lit(1)) - countDistinct(col("h"))).as("n_removed"))),

    // MEASURED LSH S-CURVE (r15 — the ann_truncated_recall /
    // geo_cap_recall_audit discipline applied to the banding scheme
    // itself): per similarity bin, what fraction of TRUE pairs does
    // 6-band × 2-row banding actually surface? band_tuning publishes
    // the ANALYTIC curve and candidate volume; this audit measures
    // recall empirically against exact Jaccard ground truth and
    // prints the analytic value alongside — the deviation IS the
    // finite-signature (12-perm) noise a deployment should see
    // before trusting the threshold at 100 TB. Ground truth is
    // all-pairs exact Jaccard over a DETERMINISTIC md5 doc sample
    // whose divisor is DERIVED, not hand-chosen (the
    // gridKnnAutoPitch discipline applied to the audit knob): the
    // smallest power-of-two divisor d with (n/d)(n/d−1)/2 ≤ 1e6
    // pairs — one count + a 9-rung integer ladder, broadcast as a
    // 1-row scalar, the chosen divisor echoed as an output column.
    // At the test SFs that picks d = 1 (sf0.001/0.01 — FULL-corpus
    // ground truth, no sampling loss at all) and d = 4 (sf0.1,
    // ~780k pairs); at 100 TB it climbs the ladder to hold the pair
    // budget — the audit needs statistical mass per bin, never the
    // full corpus. Band membership is the UNCAPPED banding contract
    // — the hot-band cap's extra loss is cappedBucketPairs' own
    // declared, runtime-asserted bound, not this audit's subject.
    // Low bins SHOULD read ~0 recall: discarding dissimilar pairs is
    // the point of LSH; the number that matters is recall above the
    // s-threshold (~0.41 for b=6, r=2).
    "dedup_lsh_recall_audit" -> ((s, dir) => {
      // m(m−1)/2 ≤ 1e6 pairs ⟺ m ≤ 1414 (1414·1413/2 = 998991; the
      // next rung overshoots) — the inequality is evaluated in its
      // closed single-factor form because the product form would
      // square an n-sized BIGINT and wrap silently past ~3e9 docs in
      // non-ANSI Spark (while the DuckDB twin errors loudly) — the
      // engines must agree at every scale, not just the tested ones
      val pick = shingled(s, dir).filter(size(col("bg")) > 0)
        .agg(count(lit(1)).as("n"))
        .select(explode(array(Seq(1, 2, 4, 8, 16, 32, 64, 128, 256)
          .map(lit): _*)).as("d"), col("n"))
        .where(expr("(n div d) <= 1414"))
        .agg(coalesce(min(col("d")), lit(256L)).as("sample_div"))
        .localCheckpoint(false) // 1-row scalar, read by two sampled()
                                // crossJoins + the output echo
      def sampled(df: DataFrame): DataFrame = df
        .crossJoin(broadcast(pick))
        .filter(conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":rc"))), 1, 4), 16, 10).cast("long")
          % col("sample_div") === 0)
        .drop("sample_div")
      val sh = sampled(shingled(s, dir).filter(size(col("bg")) > 0))
        .select(col("doc_id"), col("bg")).localCheckpoint(false)
      val pairs = sh.select(col("doc_id").as("a_id"), col("bg").as("bg_a"))
        .join(sh.select(col("doc_id").as("b_id"), col("bg").as("bg_b")),
              col("a_id") < col("b_id"))
        .withColumn("inter",
          graft.functions.SortedIntersectCount.sortedIntersectCountLong(
            col("bg_a"), col("bg_b")))
        .select(col("a_id"), col("b_id"),
          expr("inter * 1000000 div (size(bg_a) + size(bg_b) - inter)")
            .as("j_e6"))
      val bands = lshBands(sampled(minhashSigs(s, dir)))
        .localCheckpoint(false) // both sides of the band self-join
      val cand = bands.select(col("doc_id").as("a_id"), col("band"))
        .join(bands.select(col("doc_id").as("b_id"), col("band")),
              Seq("band"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct()
        .withColumn("banded", lit(1))
      pairs.join(cand, Seq("a_id", "b_id"), "left")
        .withColumn("bin", expr("j_e6 div 100000"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"), count(col("banded")).as("n_banded"))
        .withColumn("recall_e6", expr("n_banded * 1000000 div n_pairs"))
        .withColumn("analytic_recall_r6", expr(sCurveExpr))
        .crossJoin(broadcast(pick)) // echo the derived divisor
        .orderBy(col("bin"))
    }),

    // MinHash (12 perms as md5(seed:shingle) string-min) + LSH banding
    // (6 bands × 2 rows) → candidate pairs → exact-Jaccard verify ≥ 0.5.
    "dedup_minhash_lsh" -> ((s, dir) => {
      // full 12-hash signature in one native pass per doc (minhashSigs:
      // nothing but (doc_id, 12 hashes) leaves the map side; <2-token
      // docs excluded — empty signatures would share identical bands,
      // n² false candidates and a 0/0 Jaccard), banded by the shared
      // lshBands layout.
      val bands = lshBands(minhashSigs(s, dir))
      // ONE band-keyed exchange feeds the hot-band cap window and the
      // (exchange-reused, co-partitioned) self-join — the shape that
      // holds at 100 TB, where the band table outgrows any broadcast.
      // Bands above the cap (a viral duplicate) degrade from all-pairs
      // to a star around the band min: linear candidates, connectivity
      // preserved for the downstream cluster resolution.
      val cand = Graft.cappedBucketPairs(
        bands, Seq("band"), "doc_id", maxBucketSize = 4096)
      Graft.withJaccard(cand, shingled(s, dir))
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Exact n-gram Jaccard, blocked by (lang, 128-char length band) and
    // salted (see jaccardPairs) so no single block's n² serializes.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      jaccardPairs(s, dir, 0.5)
        .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jaccard"))
        .orderBy(col("a_id"), col("b_id"))),

    // Edit-distance verification of the banded near-dup candidates:
    // exact levenshtein over the full texts, but ONLY for the ~dozens of
    // pairs the cheap Jaccard pass already surfaced — the two-tier
    // cheap-filter→expensive-verify shape every dedup pipeline uses
    // (running O(n·m) DP on all pairs would never scale; on survivors it
    // is trivial).
    "dedup_edit_distance" -> ((s, dir) => {
      val pairs = jaccardPairs(s, dir, 0.5)
      val texts = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // survivors are ~dozens: broadcast them against the texts so the
      // expensive levenshtein stage adds no shuffle at all. The hint
      // does NOT propagate through the first join's result, so the
      // second probe re-broadcasts pairs+text_a explicitly.
      broadcast(broadcast(pairs)
          .join(texts.select(col("doc_id").as("a_id"), col("text").as("text_a")), "a_id"))
        .join(texts.select(col("doc_id").as("b_id"), col("text").as("text_b")), "b_id")
        .select(col("a_id"), col("b_id"),
                levenshtein(col("text_a"), col("text_b")).as("edit_dist"),
                round(col("j"), 6).as("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // INCREMENTAL near-dup: a new batch (here the doc_id%10==0 slice)
    // checked against the existing corpus — the shape a continuously-
    // ingesting pipeline actually runs: bands of the SMALL new batch
    // broadcast against the corpus banding, so the probe cost is
    // proportional to the increment, never corpus², and the corpus-side
    // signature table would be a precomputed artifact at 100 TB (computed
    // here inline from one shared exchange).
    "dedup_incremental" -> ((s, dir) => {
      val sigs = minhashSigs(s, dir)
      val newB = lshBands(sigs.filter(col("doc_id") % 10 === 0))
      val corpusB = lshBands(sigs.filter(col("doc_id") % 10 =!= 0))
      val cand = corpusB.as("c").join(
          broadcast(newB.as("n")), col("c.band") === col("n.band"))
        .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
        .distinct()
      Graft.withJaccard(cand, shingled(s, dir), "new_id", "corpus_id")
        .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // Near-dup CLUSTER resolution — the step that actually deletes
    // duplicates: connected components over the Jaccard pair graph via
    // Graft.connectedComponentLabels, canonical doc = min doc_id per
    // component, keep-one-per-cluster decision as keep = (doc == canon).
    // The pair graph is output-sized (dozens of pairs at the test SFs),
    // so the kernel's size guard takes its one bounded collect + driver
    // union-find; past 1M pairs the same call runs the distributed
    // HashMin + pointer-jumping loop.
    "dedup_cluster_canonical" -> ((s, dir) =>
      canonicalClusters(Graft.connectedComponentLabels(dupGraph(s, dir)))),

    // The same labels through the kernel's DISTRIBUTED loop: guard 0
    // forces every non-empty pair graph past the union-find path, so
    // the loop a 100 TB dedup graph would take runs under Verify/Bench
    // on this corpus (graph_connected_components_loop does the same for
    // the co-purchase graph). Both keys reduce to cluster = min member,
    // so ONE oracle checks both paths.
    "dedup_cluster_star" -> ((s, dir) =>
      canonicalClusters(Graft.connectedComponentLabels(
        dupGraph(s, dir), localEdgeThreshold = 0L))),

    // Quality-aware canonical selection: production dedup keeps the
    // BEST document per near-dup cluster (longest / highest quality —
    // RefinedWeb, FineWeb), not an arbitrary min-id representative.
    // Same cluster labels as dedup_cluster_canonical, then keep =
    // argmax (quality_e6, doc_id tie-break) per cluster via one
    // cluster-keyed window. The labels join carries NO broadcast hint:
    // label cardinality = number of docs in near-dup clusters, which at
    // web-scale dup rates (30-50%) is corpus-proportional — a forced
    // broadcast would die at the 8 GB ceiling long before 100 TB. AQE
    // broadcasts when labels actually fit; otherwise the join degrades
    // to a doc_id shuffle (not a failure), which is the plan you'd want
    // anyway since `scored` is already doc_id-keyed. Quality is the
    // shared fixed-point score (CurationOps.scored), so selection is
    // exact integer comparison — no float ties.
    "dedup_keep_best" -> ((s, dir) => {
      val labels = Graft.connectedComponentLabels(dupGraph(s, dir))
        .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
      CurationOps.scored(Tables.documents(s, dir))
        .select(col("doc_id"), col("quality_e6"))
        .join(labels, "doc_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cluster_id"))
            .orderBy(desc("quality_e6"), col("doc_id"))))
        .select(col("cluster_id"), col("doc_id"), col("quality_e6"),
                (col("rn") === 1).cast("int").as("keep"))
        .orderBy(col("cluster_id"), col("doc_id"))
    }),

    // SimHash-32 (term-frequency weighted, bits from md5 hex nibbles),
    // near-dup = hamming ≤ 3 within a language block — via multi-index
    // hamming blocking: hamming ≤ 3 means at most 3 of the 4 signature
    // bytes differ, so by pigeonhole the pair agrees on ≥ 1 byte; probing
    // on (lang, byte_pos, byte_value) finds every such pair while cutting
    // candidates ~60× AND sharding the join across 4×256 buckets per
    // language instead of one task per language (a lang-equality join
    // serializes each language's n²/2 comparisons into a single task —
    // the classic low-cardinality skew trap).
    "dedup_simhash" -> ((s, dir) =>
      // UNCAPPED candidates (a pair can agree on several bytes —
      // cappedBucketPairs distincts) with signatures carried through
      // the pair generation; hamming verify is inline. No hot-bucket
      // cap here: unlike LSH bands (collision ⇒ similarity), a single
      // signature byte colliding says nothing — a (byte position, value)
      // bucket has only 4×256 values, so buckets fill with heterogeneous NON-duplicates
      // once a lang block exceeds ~1M docs, and a star fallback would
      // drop true pairs. The cap-free byte index is what keeps the
      // documented "lossless for hamming ≤ 3" guarantee; the work bound
      // at that scale comes from dedup_simhash64's 16-bit chunk index
      // (4×65536 buckets), not from capping this one.
      Graft.simhashPairs(Tables.documentsSpread(s, dir), "doc_id",
          graft.functions.TextSignatures.simHash32(col("text")), 32, Seq("lang"),
          maxHamming = 3, maxBucketSize = Int.MaxValue)
        .orderBy(col("a_id"), col("b_id"))),

    // 64-bit SimHash, blocked on (lang, 16-bit chunk pos, chunk value)
    // — the scale path of dedup_simhash: same pigeonhole losslessness
    // for hamming ≤ 3 (3 bit errors touch ≤ 3 of the 4 chunks), but
    // 65536 bucket values per chunk position instead of 256, so
    // blocking buckets stay duplicate-dominated ~256× deeper into the
    // corpus before heterogeneous content makes them hot. The wider
    // signature also separates better: at 64 bits, unrelated docs sit
    // near hamming ~32, far above the ≤ 3 near-dup band.
    "dedup_simhash64" -> ((s, dir) =>
      Graft.simhashPairs(Tables.documentsSpread(s, dir), "doc_id",
          graft.functions.TextSignatures.simHash64(col("text")), 64, Seq("lang"),
          maxHamming = 3, maxBucketSize = Int.MaxValue)
        .orderBy(col("a_id"), col("b_id"))),

    // Repeated-n-gram scoring (the Lee et al. 2022 "Deduplicating
    // Training Data" signal at document granularity): fraction of a
    // doc's distinct word n-grams that occur in ≥ 2 documents. n = 4 is
    // calibrated to this corpus' ~30-word vocabulary (production text
    // uses 50-token windows; the dataflow is identical). Shape matches
    // clean_boilerplate_chunks: the corpus-frequency pass shuffles ONLY
    // 8-byte FNV digests (text never crosses the wire), the repeated
    // set is df≥2-bounded, and the per-doc rollups are count aggregates
    // — at 100 TB this is one digest shuffle + one semi join, no text
    // movement, no pair blowup (frequency, not pairing, is the unit).
    "dedup_repeated_ngrams" -> ((s, dir) => {
      val grams = Tables.documentsSpread(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(graft.functions.TextSignatures.wordNgramHashes(col("text"), 4)).as("g"))
      val repeated = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2).select(col("g"))
      val perDoc = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
      val rep = grams.join(repeated, Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_repeated"))
      perDoc.join(rep, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_ngrams"),
                coalesce(col("n_repeated"), lit(0L)).as("n_repeated"))
        .withColumn("repeated_frac",
          round(col("n_repeated").cast("double") / col("n_ngrams"), 6))
        .withColumn("flag_dup", (col("repeated_frac") >= 0.2).cast("int"))
        .orderBy(col("doc_id")).limit(300)
    }),

    // Exact-substring dedup (Lee et al. 2022 "ExactSubstr"): find long
    // VERBATIM spans repeated anywhere in the corpus and score each doc
    // by the fraction of its tokens covered by such spans — the dedup
    // family production pipelines (RefinedWeb, Dolma) run alongside
    // MinHash, and the span-level generalization of the reference's
    // key-identity dedup (aws_bucket.py:180-182). The suffix-array of
    // the paper is re-expressed relationally as sorted k-gram seeding:
    // a span duplicated verbatim has ALL its k-grams duplicated, so
    // k-grams with corpus frequency ≥ 2, merged where they overlap,
    // recover exactly the maximal duplicated regions (k = 5 words here;
    // production uses 50-token windows — same dataflow).
    // Scale: the frequency pass shuffles only 8-byte xxhash64 digests
    // (never text, never pairs — frequency is the unit, so no n²
    // anywhere); the span merge is a per-doc window partitioned by
    // doc_id. With fixed k and strictly increasing positions, "overlaps
    // the running span" reduces to pos <= lag(pos) + k - 1 — one lag,
    // no running-max state.
    // the ONE implementation lives in Graft.exactSubstringDups (native
    // positioned-gram digests via WordNgramPosHashes — the HOF
    // slice/concat_ws/hash formulation pays interpreted lambda + boxing
    // per gram); the query binds it to the spread corpus at k=5
    "dedup_exact_substring" -> ((s, dir) =>
      Graft.exactSubstringDups(
          Tables.documentsSpread(s, dir), "doc_id", "text", k = 5)
        .withColumn("dup_frac", round(col("dup_frac"), 6))
        .orderBy(col("doc_id")).limit(300)),

    // The CUT stage (Lee et al. pipelines don't just SCORE duplicated
    // spans, they remove them): tokens covered by any merged dup span
    // are dropped from the text; everything else passes through
    // verbatim. Digest-compressed output (md5 of the cleaned text) —
    // the span arithmetic is plain SQL, so the DuckDB oracle replays
    // the identical seed→merge→cut chain on literal k-grams.
    "dedup_exact_substring_cut" -> ((s, dir) =>
      Graft.exactSubstringCut(
          Tables.documentsSpread(s, dir), "doc_id", "text", k = 5)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          col("n_kept").cast("long").as("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id")).limit(300)),

    // Cross-source contamination matrix: near-dup pairs (the blocked
    // salted Jaccard join above) rolled up to (source_a, source_b)
    // counts — the table that tells a curation pipeline which sources
    // re-host each other's content (mirror detection / license
    // laundering). Reuses jaccardPairs end to end, then joins the pair
    // list (tiny relative to the corpus) to the doc→source projection
    // twice; the rollup key is the unordered source pair.
    "dedup_cross_source" -> ((s, dir) => {
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      jaccardPairs(s, dir, 0.5)
        .join(src.toDF("a_id", "src_a"), "a_id")
        .join(src.toDF("b_id", "src_b"), "b_id")
        .select(least(col("src_a"), col("src_b")).as("source_a"),
                greatest(col("src_a"), col("src_b")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Asymmetric n-gram CONTAINMENT: C(A→B) = |A∩B| / |A| ≥ 0.8 — the
    // sub-document-duplication measure Jaccard structurally misses (a
    // doc fully embedded in one 10× larger scores J ≈ 0.1 but C = 1.0).
    // Candidate generation is PREFIX FILTERING (Chaudhuri et al. 2006
    // SSJoin / Xiao et al. PPJoin): under ANY globally consistent
    // shingle order, C(A→B) ≥ t forces B to share at least one of A's
    // first ⌊(1−t)·|A|⌋+1 shingles — so only that prefix is posted
    // against the inverted index, never A's full set, and completeness
    // is a lemma, not a hope (spec-asserted vs brute force): C ≥ t ⇒ A
    // misses at most (1−t)|A| grams from A∩B, so ANY fixed choice of
    // (1−t)|A|+1 grams of A hits the intersection (pigeonhole). The
    // prefix is taken from A's globally RAREST grams (df-ordered, the
    // PPJoin order), so the candidate join meets on the shortest
    // posting lists; at 100 TB the posting side is the pre-built
    // inverted index and candidates scale with prefix-posting products,
    // not corpus². Verification is the zero-alloc sorted merge walk on
    // the candidate pairs only. Single-sourced in Graft.containmentPairs.
    "dedup_containment" -> ((s, dir) =>
      Graft.containmentPairsFromShingles(
          shingled(s, dir).filter(size(col("bg")) > 0)
            .select(col("doc_id").as("__id"), col("bg").as("__bg"),
                    size(col("bg")).as("__n")), 0.8)
        .select(col("a_id"), col("b_id"),
                round(col("containment"), 6).as("containment"))
        .orderBy(col("a_id"), col("b_id"))),

    // Phonetic blocking census — the Soundex-class blocking key for
    // fuzzy entity dedup: first letter + the first three consonant-class
    // digits (b/f/p/v→1, c/g/j/k/q/s/x/z→2, d/t→3, l→4, m/n→5, r→6;
    // vowels/h/w dropped, runs collapsed, zero-padded). The key is
    // defined HERE, identically hand-written in both engines'
    // translate/regexp primitives — no reliance on either engine's
    // soundex variant (DuckDB has none; Soundex implementations differ
    // on H/W edge cases). Blocking is THE scale move for fuzzy dedup:
    // candidate pairs shrink from n² to Σ n_block², and the census's
    // n_pairs column is exactly that cost model, per block. Pure
    // map-side key compute + one census shuffle on the key.
    "dedup_phonetic_block" -> ((s, dir) => {
      val w0 = lower(regexp_extract(col("text"), "^[A-Za-z]+", 0))
      val tail = expr("translate(substr(w0, 2), 'aeiouyhw', '')")
      val digits = expr(
        "translate(tail, 'bfpvcgjkqsxzdtlmnr', '111122222222334556')")
      // collapse digit runs with one backref-free pass per class: the
      // oracle runs on RE2, which has no pattern backreferences
      val collapsed = (1 to 6).foldLeft(col("digits")) { (c, d) =>
        regexp_replace(c, s"$d{2,}", d.toString)
      }
      Tables.documents(s, dir)
        .select(col("doc_id"), w0.as("w0"))
        .filter(length(col("w0")) > 0)
        .withColumn("tail", tail)
        .withColumn("digits", digits)
        .withColumn("pkey",
          concat(substring(col("w0"), 1, 1),
                 rpad(substring(collapsed, 1, 3), 3, "0")))
        .groupBy(col("pkey"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("w0")).as("n_words"))
        .withColumn("n_pairs", expr("n_docs * (n_docs - 1) div 2"))
        .orderBy(col("n_docs").desc, col("pkey"))
    })
  )

  /** 32-bit frequency-weighted SimHash per document. Bit j of a token's
    * hash is nibble j/4 of its md5, shifted; each occurrence votes ±1. */
  def simhash32(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("lang"), col("tok"), col("cnt"),
              explode(sequence(lit(0), lit(31))).as("j"))
      .withColumn("bit", expr(
        "(shiftright(cast(conv(substring(md5(tok), 1 + j div 4, 1), 16, 10) as int), 3 - j % 4)) & 1"))
      .groupBy(col("doc_id"), col("lang"), col("j"))
      .agg(when(sum(col("cnt") * (col("bit") * 2 - 1)) > 0, 1).otherwise(0).as("bit"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("cast(sum(bit * shiftleft(cast(1 as bigint), j)) as bigint)").as("simhash"))

  /** The Jaccard ≥ 0.5 pair graph in the components kernel's (a, b)
    * shape. */
  private def dupGraph(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir, 0.5).select(col("a_id").as("a"), col("b_id").as("b"))

  /** Kernel (v, lbl) labels → the canonical-keep census shape. */
  private def canonicalClusters(labels: DataFrame): DataFrame =
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("lbl"))).cast("int"))
      .select(col("lbl").as("cluster_id"), col("v").as("doc_id"),
              col("cluster_size"),
              (col("v") === col("lbl")).cast("int").as("keep"))
      .orderBy(col("cluster_id"), col("doc_id"))

  /** Shared recursive-CTE prefix computing (doc_id, cluster_id) labels
    * from the banded Jaccard pair graph — ends with the `lbl` CTE so
    * consumers append their own CTEs/SELECT. */
  private lazy val clusterLblCte: String =
    s"""WITH RECURSIVE
       |toks AS (SELECT doc_id, lang, n_chars // 128 AS band, $bigramsSqlExpr AS bg
       |  FROM documents),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM toks a JOIN toks b
       |  ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
       |  AND len(a.bg) > 0
       |  WHERE len(list_intersect(a.bg, b.bg))::DOUBLE
       |        / len(list_distinct(a.bg || b.bg)) >= 0.5),
       |edges AS (SELECT a_id AS u, b_id AS v FROM p
       |  UNION SELECT b_id, a_id FROM p),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |  FROM reach GROUP BY u)""".stripMargin

  private lazy val clusterCanonicalSql: String =
    s"""$clusterLblCte
       |SELECT cluster_id, doc_id,
       |  (count(*) OVER (PARTITION BY cluster_id))::INT AS cluster_size,
       |  (doc_id = cluster_id)::INT AS keep
       |FROM lbl ORDER BY cluster_id, doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "dedup_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS len
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 8),
        |pos AS (SELECT doc_id, text, len, unnest(range(8, len + 1)) AS i
        |  FROM d),
        |b AS (SELECT doc_id, i::BIGINT AS i FROM pos
        |  WHERE ('0x' || substr(md5(substr(text, (i - 7)::INT, 8)), 1, 2))
        |    ::BIGINT % 16 = 0),
        |ends AS (SELECT DISTINCT doc_id, i FROM (
        |  SELECT doc_id, i FROM b UNION ALL SELECT doc_id, len FROM d)),
        |ch AS (SELECT doc_id, i AS e,
        |    coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS s
        |  FROM ends),
        |ck AS (SELECT ch.doc_id,
        |    substr(d.text, (ch.s + 1)::INT, (ch.e - ch.s)::INT) AS chunk
        |  FROM ch JOIN d ON d.doc_id = ch.doc_id),
        |hh AS (SELECT doc_id, md5(chunk) AS h, length(chunk)::BIGINT AS clen
        |  FROM ck),
        |byh AS (SELECT h, count(*)::BIGINT AS n,
        |    count(DISTINCT doc_id)::BIGINT AS nd, max(clen) AS clen
        |  FROM hh GROUP BY h)
        |SELECT count(*)::BIGINT AS n_distinct_chunks,
        |  sum(n)::BIGINT AS n_chunks,
        |  sum(CASE WHEN n > 1 THEN (n - 1) * clen ELSE 0 END)::BIGINT
        |    AS dup_bytes_saved,
        |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_cross_doc,
        |  max(n)::BIGINT AS max_dup
        |FROM byh""".stripMargin,

    "dedup_exact" ->
      """SELECT count(*) AS n_total, count(DISTINCT md5(text)) AS n_unique,
        |count(*) - count(DISTINCT md5(text)) AS n_removed
        |FROM documents""".stripMargin,

    "dedup_minhash_band_tuning" ->
      s"""WITH toks AS (SELECT doc_id, $bigramsSqlExpr AS bg FROM documents),
         |sh AS (SELECT doc_id, unnest(bg) AS shingle FROM toks),
         |mh AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS h
         |  FROM sh CROSS JOIN (SELECT unnest(range(12)) AS seed) GROUP BY doc_id, seed),
         |sig AS (SELECT doc_id, list(h ORDER BY seed) AS mhs FROM mh GROUP BY doc_id),
         |cfg(b, r) AS (VALUES (12, 1), (6, 2), (4, 3), (3, 4), (2, 6)),
         |bandk AS (SELECT b, r,
         |    k || ':' || array_to_string(mhs[k*r+1:(k+1)*r], '') AS band
         |  FROM sig CROSS JOIN cfg
         |  CROSS JOIN (SELECT unnest(range(12)) AS k) WHERE k < b),
         |m AS (SELECT b, r, band, count(*)::BIGINT AS m
         |  FROM bandk GROUP BY 1, 2, 3),
         |adv AS (SELECT b, r, sum(m * (m - 1) // 2)::BIGINT AS n_candidates
         |  FROM m GROUP BY b, r)
         |SELECT b::INT AS n_bands, r::INT AS rows_per_band, n_candidates,
         |  floor(pow(1.0 / b, 1.0 / r) * 1e6 + 0.5)::BIGINT AS s_threshold_e6
         |FROM adv ORDER BY n_bands DESC""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH toks AS (SELECT doc_id, $bigramsSqlExpr AS bg FROM documents),
         |sh AS (SELECT doc_id, unnest(bg) AS shingle FROM toks),
         |mh AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS h
         |  FROM sh CROSS JOIN (SELECT unnest(range(12)) AS seed) GROUP BY doc_id, seed),
         |sig AS (SELECT doc_id, list(h ORDER BY seed) AS mhs FROM mh GROUP BY doc_id),
         |bands AS (SELECT doc_id, unnest(list_transform(range(6),
         |  k -> k || ':' || mhs[2*k+1] || mhs[2*k+2])) AS band FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
         |v AS (SELECT a_id, b_id,
         |  round(len(list_intersect(ta.bg, tb.bg))::DOUBLE / len(list_distinct(ta.bg || tb.bg)), 6) AS jaccard
         |  FROM cand JOIN toks ta ON ta.doc_id = a_id JOIN toks tb ON tb.doc_id = b_id)
         |SELECT a_id, b_id, jaccard FROM v WHERE jaccard >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_minhash_estimate_audit" ->
      s"""WITH toks AS (SELECT doc_id, $bigramsSqlExpr AS bg FROM documents),
         |sh AS (SELECT doc_id, unnest(bg) AS shingle FROM toks),
         |mh AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS h
         |  FROM sh CROSS JOIN (SELECT unnest(range(12)) AS seed)
         |  GROUP BY doc_id, seed),
         |sig AS (SELECT doc_id, list(h ORDER BY seed) AS mhs
         |  FROM mh GROUP BY doc_id),
         |bands AS (SELECT doc_id, unnest(list_transform(range(6),
         |  k -> k || ':' || mhs[2*k+1] || mhs[2*k+2])) AS band FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.doc_id < b.doc_id),
         |es AS (SELECT a_id, b_id,
         |    (len(list_filter(range(1, 13), k -> sa.mhs[k] = sb.mhs[k]))
         |      * 1000000) // 12 AS est_e6
         |  FROM cand JOIN sig sa ON sa.doc_id = a_id
         |  JOIN sig sb ON sb.doc_id = b_id),
         |jx AS (SELECT a_id, b_id, est_e6,
         |    (len(list_intersect(ta.bg, tb.bg)) * 1000000) //
         |      len(list_distinct(ta.bg || tb.bg)) AS j_e6
         |  FROM es JOIN toks ta ON ta.doc_id = a_id
         |  JOIN toks tb ON tb.doc_id = b_id
         |  WHERE len(ta.bg) > 0 AND len(tb.bg) > 0)
         |SELECT (j_e6 // 100000)::BIGINT AS bin, count(*)::BIGINT AS n_pairs,
         |  (sum(abs(est_e6 - j_e6)) // count(*))::BIGINT AS mean_abs_err_e6,
         |  max(abs(est_e6 - j_e6))::BIGINT AS max_abs_err_e6
         |FROM jx GROUP BY bin ORDER BY bin""".stripMargin,

    // sampled all-pairs ground truth + the full minhash/banding
    // replay of the estimate-audit oracle, restricted to the same
    // 1/4 md5 sample; the analytic column is the SHARED sCurveExpr
    // text, so both engines run the identical IEEE sequence
    "dedup_lsh_recall_audit" ->
      s"""WITH toks0 AS (SELECT doc_id, $bigramsSqlExpr AS bg FROM documents),
         |nn AS (SELECT count(*)::BIGINT AS n FROM toks0 WHERE len(bg) > 0),
         |lad AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128, 256]) AS d),
         |pick AS (SELECT coalesce(min(d), 256)::BIGINT AS sample_div
         |  FROM lad, nn
         |  WHERE (n // d) <= 1414),
         |toks AS (SELECT doc_id, bg FROM toks0, pick
         |  WHERE len(bg) > 0
         |    AND ('0x' || substr(md5(doc_id::VARCHAR || ':rc'), 1, 4))::BIGINT
         |        % sample_div = 0),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    (len(list_intersect(a.bg, b.bg)) * 1000000) //
         |      len(list_distinct(a.bg || b.bg)) AS j_e6
         |  FROM toks a JOIN toks b ON a.doc_id < b.doc_id),
         |sh AS (SELECT doc_id, unnest(bg) AS shingle FROM toks),
         |mh AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS h
         |  FROM sh CROSS JOIN (SELECT unnest(range(12)) AS seed)
         |  GROUP BY doc_id, seed),
         |sig AS (SELECT doc_id, list(h ORDER BY seed) AS mhs
         |  FROM mh GROUP BY doc_id),
         |bands AS (SELECT doc_id, unnest(list_transform(range(6),
         |  k -> k || ':' || mhs[2*k+1] || mhs[2*k+2])) AS band FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.doc_id < b.doc_id),
         |j AS (SELECT pairs.j_e6, (cand.a_id IS NOT NULL)::INT AS banded
         |  FROM pairs LEFT JOIN cand USING (a_id, b_id)),
         |g AS (SELECT j_e6 // 100000 AS bin, count(*)::BIGINT AS n_pairs,
         |    sum(banded)::BIGINT AS n_banded
         |  FROM j GROUP BY 1)
         |SELECT bin::BIGINT AS bin, n_pairs, n_banded,
         |  (n_banded * 1000000 // n_pairs)::BIGINT AS recall_e6,
         |  $sCurveExpr AS analytic_recall_r6, sample_div
         |FROM g, pick ORDER BY bin""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH toks AS (SELECT doc_id, lang, n_chars // 128 AS band, $bigramsSqlExpr AS bg
         |  FROM documents),
         |v AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  round(len(list_intersect(a.bg, b.bg))::DOUBLE / len(list_distinct(a.bg || b.bg)), 6) AS jaccard
         |  FROM toks a JOIN toks b
         |  ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id, jaccard FROM v WHERE jaccard >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_edit_distance" ->
      s"""WITH toks AS (SELECT doc_id, lang, n_chars // 128 AS band, $bigramsSqlExpr AS bg
         |  FROM documents),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  len(list_intersect(a.bg, b.bg))::DOUBLE / len(list_distinct(a.bg || b.bg)) AS j
         |  FROM toks a JOIN toks b
         |  ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
         |  AND len(a.bg) > 0),
         |k AS (SELECT a_id, b_id, j FROM p WHERE j >= 0.5)
         |SELECT a_id, b_id,
         |  levenshtein(da.text, db.text)::INT AS edit_dist,
         |  round(j, 6) AS jaccard
         |FROM k JOIN documents da ON da.doc_id = a_id
         |JOIN documents db ON db.doc_id = b_id
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_incremental" ->
      s"""WITH toks AS (SELECT doc_id, $bigramsSqlExpr AS bg FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |sh AS (SELECT doc_id, unnest(bg) AS shingle FROM toks),
         |mh AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS h
         |  FROM sh CROSS JOIN (SELECT unnest(range(12)) AS seed) GROUP BY doc_id, seed),
         |sig AS (SELECT doc_id, list(h ORDER BY seed) AS mhs FROM mh GROUP BY doc_id),
         |bands AS (SELECT doc_id, unnest(list_transform(range(6),
         |  k -> k || ':' || mhs[2*k+1] || mhs[2*k+2])) AS band FROM sig),
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         |  FROM bands n JOIN bands c ON n.band = c.band
         |  WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0),
         |v AS (SELECT new_id, corpus_id,
         |  round(len(list_intersect(tn.bg, tc.bg))::DOUBLE / len(list_distinct(tn.bg || tc.bg)), 6) AS jaccard
         |  FROM cand JOIN toks tn ON tn.doc_id = new_id
         |  JOIN toks tc ON tc.doc_id = corpus_id)
         |SELECT new_id, corpus_id, jaccard FROM v WHERE jaccard >= 0.5
         |ORDER BY new_id, corpus_id""".stripMargin,

    "dedup_cluster_canonical" -> clusterCanonicalSql,

    // the kernel's distributed loop computes the SAME labels (cluster
    // = min member) — one oracle, both paths
    "dedup_cluster_star" -> clusterCanonicalSql,

    "dedup_simhash" ->
      """WITH tf AS (SELECT doc_id, lang, tok, count(*) AS cnt FROM
        |  (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents)
        |  GROUP BY doc_id, lang, tok),
        |bits AS (SELECT doc_id, lang, j,
        |  CASE WHEN sum(cnt * (((strpos('0123456789abcdef', substr(md5(tok), 1 + j//4, 1)) - 1
        |    >> (3 - j%4)) & 1) * 2 - 1)) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM tf CROSS JOIN (SELECT unnest(range(32)) AS j) GROUP BY doc_id, lang, j),
        |sh AS (SELECT doc_id, lang, sum(bit * (1::BIGINT << j))::BIGINT AS simhash
        |  FROM bits GROUP BY doc_id, lang)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    // 64-bit twin: signature built as two 32-bit halves (bit 63 via
    // 1<<63 would overflow a signed BIGINT sum), hamming = sum of the
    // halves' bit_counts — identical to the packed-64 xor
    "dedup_simhash64" ->
      """WITH tf AS (SELECT doc_id, lang, tok, count(*) AS cnt FROM
        |  (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents)
        |  GROUP BY doc_id, lang, tok),
        |bits AS (SELECT doc_id, lang, j,
        |  CASE WHEN sum(cnt * (((strpos('0123456789abcdef', substr(md5(tok), 1 + j//4, 1)) - 1
        |    >> (3 - j%4)) & 1) * 2 - 1)) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM tf CROSS JOIN (SELECT unnest(range(64)) AS j) GROUP BY doc_id, lang, j),
        |sh AS (SELECT doc_id, lang,
        |  sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j) ELSE 0 END)::BIGINT AS lo,
        |  sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32)) ELSE 0 END)::BIGINT AS hi
        |  FROM bits GROUP BY doc_id, lang)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  (bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)))::INT AS hamming
        |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    "dedup_repeated_ngrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE text IS NOT NULL),
        |ng AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 2, 1)),
        |    i -> array_to_string(toks[i:i+3], ' '))) AS gs FROM t),
        |g AS (SELECT doc_id, unnest(gs) AS g FROM ng),
        |rep AS (SELECT g FROM (SELECT g, count(*) AS df FROM g GROUP BY g)
        |  WHERE df >= 2),
        |pd AS (SELECT doc_id, count(*) AS n_ngrams FROM g GROUP BY doc_id),
        |pr AS (SELECT g.doc_id, count(*) AS n_repeated
        |  FROM g JOIN rep USING (g) GROUP BY g.doc_id)
        |SELECT doc_id, n_ngrams, coalesce(n_repeated, 0)::BIGINT AS n_repeated,
        |  round(coalesce(n_repeated, 0)::DOUBLE / n_ngrams, 6) AS repeated_frac,
        |  (round(coalesce(n_repeated, 0)::DOUBLE / n_ngrams, 6) >= 0.2)::INT AS flag_dup
        |FROM pd LEFT JOIN pr USING (doc_id)
        |ORDER BY doc_id LIMIT 300""".stripMargin,

    // Spark seeds with xxhash64 digests, the oracle with the gram TEXT —
    // same equivalence classes barring a 64-bit collision (the accepted
    // risk dedup_repeated_ngrams already carries).
    "dedup_exact_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+4], ' ') AS g
        |  FROM t, unnest(range(1, greatest(len(toks) - 3, 1))) u(i)),
        |dup AS (SELECT g FROM (SELECT g, count(*) AS freq FROM g GROUP BY g)
        |  WHERE freq >= 2),
        |h AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
        |sp AS (SELECT doc_id, pos,
        |  CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
        |                           -2147483648) + 4 THEN 1 ELSE 0 END AS new_span
        |  FROM h),
        |si AS (SELECT doc_id, pos, sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id FROM sp),
        |sv AS (SELECT doc_id, span_id, max(pos) + 4 - min(pos) + 1 AS covered
        |  FROM si GROUP BY doc_id, span_id),
        |pd AS (SELECT doc_id, sum(covered)::BIGINT AS dup_tokens,
        |  count(*)::INT AS n_spans FROM sv GROUP BY doc_id),
        |base AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, n_tokens, coalesce(dup_tokens, 0)::BIGINT AS dup_tokens,
        |  coalesce(n_spans, 0)::INT AS n_spans,
        |  round(coalesce(dup_tokens, 0)::DOUBLE / n_tokens, 6) AS dup_frac
        |FROM base LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id LIMIT 300""".stripMargin,

    "dedup_keep_best" ->
      s"""$clusterLblCte,
         |tq AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |q AS (SELECT doc_id,
         |  CAST(floor((${CurationOps.qualitySql}) * 1e6 + 0.5) AS BIGINT) AS quality_e6
         |  FROM tq),
         |j AS (SELECT cluster_id, l.doc_id, quality_e6,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY quality_e6 DESC, l.doc_id) AS rn
         |  FROM lbl l JOIN q USING (doc_id))
         |SELECT cluster_id, doc_id, quality_e6, (rn = 1)::INT AS keep
         |FROM j ORDER BY cluster_id, doc_id""".stripMargin,

    "dedup_exact_substring_cut" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+4], ' ') AS g
        |  FROM t, unnest(range(1, greatest(len(toks) - 3, 1))) u(i)),
        |dup AS (SELECT g FROM (SELECT g, count(*) AS freq FROM g GROUP BY g)
        |  WHERE freq >= 2),
        |h AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
        |sp AS (SELECT doc_id, pos,
        |  CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
        |                           -2147483648) + 4 THEN 1 ELSE 0 END AS new_span
        |  FROM h),
        |si AS (SELECT doc_id, pos, sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id FROM sp),
        |sb AS (SELECT doc_id, span_id, min(pos) AS lo, max(pos) + 4 AS hi
        |  FROM si GROUP BY doc_id, span_id),
        |cov AS (SELECT doc_id, i FROM sb, unnest(range(lo, hi + 1)) u(i)),
        |tt AS (SELECT doc_id, i, toks[i] AS tok
        |  FROM t, unnest(range(1, len(toks) + 1)) u(i)),
        |keep AS (SELECT tt.doc_id, tt.i, tt.tok FROM tt
        |  LEFT JOIN cov ON tt.doc_id = cov.doc_id AND tt.i = cov.i
        |  WHERE cov.i IS NULL),
        |k AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
        |  string_agg(tok, ' ' ORDER BY i) AS clean FROM keep GROUP BY doc_id),
        |base AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, n_tokens, coalesce(n_kept, 0)::BIGINT AS n_kept,
        |  md5(coalesce(clean, '')) AS clean_md5
        |FROM base LEFT JOIN k USING (doc_id)
        |ORDER BY doc_id LIMIT 300""".stripMargin,

    "dedup_cross_source" ->
      s"""WITH toks AS (SELECT doc_id, lang, n_chars // 128 AS band, $bigramsSqlExpr AS bg
         |  FROM documents),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM toks a JOIN toks b
         |  ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
         |  AND len(a.bg) > 0
         |  WHERE len(list_intersect(a.bg, b.bg))::DOUBLE
         |        / len(list_distinct(a.bg || b.bg)) >= 0.5),
         |s AS (SELECT doc_id, source FROM documents),
         |m AS (SELECT least(sa.source, sb.source) AS source_a,
         |             greatest(sa.source, sb.source) AS source_b
         |  FROM p JOIN s sa ON sa.doc_id = p.a_id JOIN s sb ON sb.doc_id = p.b_id)
         |SELECT source_a, source_b, count(*) AS n_pairs
         |FROM m GROUP BY source_a, source_b ORDER BY source_a, source_b""".stripMargin,

    "dedup_containment" ->
      s"""WITH toks AS (SELECT doc_id, list_sort($bigramsSqlExpr) AS bg
         |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
         |tk AS (SELECT doc_id, bg, len(bg) AS n FROM toks),
         |pref AS (SELECT doc_id AS a_id,
         |    unnest(bg[1 : (n * 0.2)::INT + 1]) AS g FROM tk),
         |post AS (SELECT doc_id AS b_id, unnest(bg) AS g FROM tk),
         |cand AS (SELECT DISTINCT a_id, b_id FROM pref JOIN post USING (g)
         |         WHERE a_id != b_id),
         |v AS (SELECT a_id, b_id,
         |    len(list_intersect(a.bg, b.bg))::DOUBLE / a.n AS c
         |  FROM cand JOIN tk a ON a.doc_id = a_id JOIN tk b ON b.doc_id = b_id)
         |SELECT a_id, b_id, round(c, 6) AS containment FROM v
         |WHERE c >= 0.8 ORDER BY a_id, b_id""".stripMargin,

    "dedup_phonetic_block" ->
      """WITH w AS (SELECT doc_id, lower(regexp_extract(text, '^[A-Za-z]+', 0)) AS w0
        |  FROM documents),
        |f AS (SELECT doc_id, w0, translate(substr(w0, 2), 'aeiouyhw', '') AS tail
        |  FROM w WHERE length(w0) > 0),
        |g AS (SELECT doc_id, w0,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    translate(tail, 'bfpvcgjkqsxzdtlmnr', '111122222222334556'),
        |    '1{2,}', '1', 'g'), '2{2,}', '2', 'g'), '3{2,}', '3', 'g'),
        |    '4{2,}', '4', 'g'), '5{2,}', '5', 'g'), '6{2,}', '6', 'g') AS coll
        |  FROM f)
        |SELECT substr(w0, 1, 1) || rpad(substr(coll, 1, 3), 3, '0') AS pkey,
        |  count(*)::BIGINT AS n_docs, count(DISTINCT w0)::BIGINT AS n_words,
        |  (count(*) * (count(*) - 1) // 2)::BIGINT AS n_pairs
        |FROM g GROUP BY 1 ORDER BY n_docs DESC, pkey""".stripMargin
  )
}
