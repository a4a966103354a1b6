package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Pre-training / RAG preparation operators: document chunking and
  * token-budget packing.
  *
  * Chunking is the stage the reference conspicuously lacks — it embeds
  * each transcript file as ONE vector (`embedding_engine.py:71`
  * encodes `[content]`, so every FAISS index holds a single entry
  * despite the README's retrieval claims; SURVEY §3.3). Overlapping
  * token windows are the standard fix, and downstream batch assembly
  * packs chunks to a fixed token budget.
  *
  * Scale design: chunking is explode-only — map-side row generation,
  * no shuffle, parallelism = scan splits; at 100 TB it pipelines into
  * the embed stage with nothing materialized. Packing needs a running
  * token count, which is a WINDOW per stratum: partitioned by `lang`
  * here (each stratum packs independently — the realistic layout, since
  * batches never mix languages/sources in curated corpora); an
  * unpartitioned global pack would serialize into one task and is the
  * anti-pattern the stratum key exists to avoid.
  */
object PrepOps {

  private val chunkLen = 32
  private val stride = 24 // 8-token overlap between consecutive windows

  /** Overlapping token windows: window i covers tokens
    * [i*stride+1, i*stride+chunkLen], i in [0, ceil(n/stride)).
    * In: (doc_id, text). Out: (doc_id, chunk_idx, n_chunk_tokens,
    * chunk_text). Explode-only — map-side row generation, no shuffle. */
  def chunkDocuments(docs: DataFrame,
                     chunkLen: Int = chunkLen, stride: Int = stride): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), ((col("n") + stride - 1) / stride).cast("int") - 1)).as("i"))
      .select(col("doc_id"), col("i").as("chunk_idx"),
        least(lit(chunkLen), col("n") - col("i") * stride).as("n_chunk_tokens"),
        array_join(slice(col("toks"), col("i") * stride + 1, lit(chunkLen)), " ").as("chunk_text"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "chunk_documents" -> ((s, dir) =>
      chunkDocuments(Tables.documents(s, dir))
        .orderBy(col("doc_id"), col("chunk_idx")).limit(200)),

    // Deterministic k-fold assignment + stratification audit — the
    // cross-validation split a training pipeline runs before any
    // model fit. Fold = 48-bit md5 hash mod k: a pure doc_id function
    // (map-side, layout-invariant, restartable — the
    // curate_rejection_sampling hash discipline), NOT a per-stratum
    // row_number round-robin, which would need a per-lang global sort
    // (a skewed-key total order at 100 TB for cosmetically-perfect
    // balance hash folds already deliver to binomial noise). The
    // audit REPORTS that noise: per (fold, lang) counts plus each
    // lang's max−min spread across folds — the number you check
    // before trusting CV variance. Windows run over the 5·|langs|-row
    // audit table (bounded, PLANS.md census class).
    "prep_kfold_stratified" -> ((s, dir) => {
      val k = 5
      val folds = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"))
        .withColumn("fold", pmod(conv(substring(md5(concat(
            col("doc_id").cast("string"), lit(":kfold"))), 1, 12), 16, 10)
          .cast("long"), lit(k.toLong)))
      val wLang = Window.partitionBy(col("lang"))
      folds.groupBy(col("fold"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("lang_spread",
          max(col("n_docs")).over(wLang) - min(col("n_docs")).over(wLang))
        .orderBy(col("fold"), col("lang"))
    }),

    // Chunk-level retrieval with doc-level max-pooling ("maxP"): the
    // standard RAG ranking over a chunked index — score every chunk,
    // keep each document's best chunk score, rank documents. Composes
    // the chunking stage with the shuffle-free hash embed; the maxP
    // aggregate is partial-aggregatable (map-side max per doc), so the
    // per-chunk score volume never crosses the exchange.
    "retrieval_chunk_maxp" -> ((s, dir) => {
      // (doc_id, chunk_idx) stays a two-column key end to end — a
      // synthetic doc_id*K+chunk_idx id would silently collide once a
      // document exceeds K chunks (review finding; stride 24 ⇒ 24K-token
      // docs at K=1000), corrupting the maxP pooling
      val chunks = chunkDocuments(
          Tables.documentsSpread(s, dir).filter(col("text").isNotNull))
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
      val cv = chunks.select(col("doc_id"), col("chunk_idx"),
          graft.functions.TextSignatures.hashEmbed8(col("chunk_text")).as("cv"))
        .repartition(col("doc_id"), col("chunk_idx")) // materialize signatures once
      val qv = LexicalOps.queriesDf(s)
        .select(col("qid"), graft.functions.TextSignatures.hashEmbed8(col("qtext")).as("qv"))
      import graft.functions.VectorFns.{dot, l2Norm}
      graft.api.Graft.topK(cv.crossJoin(broadcast(qv))
          .select(col("qid"), col("doc_id"),
            floor(dot(col("qv"), col("cv")) / (l2Norm(col("qv")) * l2Norm(col("cv"))) * 1e9 + 0.5)
              .cast("long").as("cos_e9"))
          .groupBy(col("qid"), col("doc_id"))
          .agg(max(col("cos_e9")).as("best_cos_e9")), 5, "best_cos_e9", "doc_id")
        .select(col("qid"), col("rank"), col("doc_id"), col("best_cos_e9"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Fixed-budget batch assignment: running token count per language
    // (ordered by doc_id), batch = (cum-1) div 4096. Deterministic
    // integer arithmetic end to end; reports per-batch fill.
    "pack_sequences" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
                size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("batch_id", ((col("cum") - 1) / 4096).cast("long"))
        .groupBy(col("lang"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("lang"), col("batch_id"))
    }),

    // Byte-balanced output sharding: assign docs (in doc_id order) to
    // fixed-size output shards by GLOBAL running byte count — the
    // writer-side layout step for training shards ("each file ≈ 16 KiB
    // here, ≈ 1 GiB in production"). Spark has no scalable global
    // cumulative sum (a global window serializes the corpus into ONE
    // task), so this is the canonical two-pass distributed prefix sum:
    //   pass 1: range-partition by the sort key, per-partition byte
    //           totals (numPartitions rows) → running offsets on that
    //           TINY table (the only single-partition window, 8 rows);
    //   pass 2: within-partition running sum (window PARTITIONED by
    //           pid — parallelism = partition count) + broadcast
    //           offset join.
    // Output is invariant to the (sampled) range boundaries: offsets
    // are computed from the actual partition sums, so cum_bytes depends
    // only on doc_id order. At 100 TB: two narrow shuffles of
    // (doc_id, long) rows — text never moves; the same pattern gives
    // global row_number / ntile / histogram-equalized bucketing.
    // greatest() guard inside the facade: a leading zero-byte doc has
    // cum 0, and (0-1)/target floor-divides to -1 in DuckDB but
    // truncates to 0 in Spark — both pin to shard 0
    "shard_by_bytes" -> ((s, dir) =>
      graft.api.Graft.shardByBytes(
          Tables.documents(s, dir), "doc_id", "n_chars", targetBytes = 16384L)
        .orderBy(col("doc_id"))),

    // Deterministic epoch shuffle: the 100 TB answer to "globally
    // shuffle the corpus once per epoch". No RNG, no global sort —
    // shard = md5("epoch1:" || doc_id) mod 8 (uniform regardless of
    // input order/clustering), within-shard order = the same hash.
    // That is ONE hash-keyed exchange + a per-shard local sort
    // (repartition + sortWithinPartitions on the write path), fully
    // reproducible from the epoch seed alone — rerunning epoch 1 after
    // a failure yields byte-identical shards, and epoch 2 is a new seed
    // string, not new state. The census proves the exact permutation:
    // order_checksum = Σ pos·doc_id over the hash order catches any
    // reordering, not just membership drift. Window is per-shard (8
    // here, thousands at scale) — never a global row_number.
    "prep_epoch_shuffle" -> ((s, dir) => {
      val h = md5(concat(lit("epoch1:"), col("doc_id").cast("string")))
      Tables.documents(s, dir)
        .select(col("doc_id"),
                size(split(col("text"), " ")).cast("long").as("n_tokens"),
                h.as("h"))
        .withColumn("shard", conv(substring(col("h"), 1, 8), 16, 10).cast("long") % 8)
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens")).as("sum_tokens"),
             sum(col("pos") * col("doc_id")).as("order_checksum"))
        .orderBy(col("shard"))
    }),

    // Hashing-trick feature space (Weinberger et al. 2009) + collision
    // audit — the fixed-width featurizer every large-scale linear/GBDT
    // pipeline uses when the vocabulary is unbounded: token → bucket =
    // md5 mod B (B = 64), features need no vocabulary pass, no
    // dictionary broadcast, no OOV handling. The audit is the part a
    // production pipeline actually reviews before trusting B: per
    // bucket, total token mass, DISTINCT terms folded in (collision
    // degree), and the dominant term's share (e6 floor-div) — a bucket
    // whose top term owns ≪1e6 is a lossy collision hotspot and argues
    // for a bigger B. One explode + two vocab-bounded aggregates; the
    // shuffle carries (bucket, term) partials, never raw text.
    "prep_feature_hashing" -> ((s, dir) => {
      val B = 64
      val toks = Tables.documentsSpread(s, dir)
        .filter(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .withColumn("bucket",
          conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long") % B)
      val tc = toks.groupBy(col("bucket"), col("term"))
        .agg(count(lit(1)).as("tn"))
      tc.groupBy(col("bucket"))
        .agg(sum(col("tn")).as("n_tokens"),
             count(lit(1)).as("n_terms"),
             max(struct(col("tn"), col("term"))).as("top"))
        .select(col("bucket"), col("n_tokens"), col("n_terms"),
          col("top.term").as("top_term"),
          expr("(top.tn * 1000000) div n_tokens").as("top_share_e6"))
        .orderBy(col("bucket"))
    }),

    // Leave-one-out target encoding — the categorical-feature encoder
    // every tabular-ML pipeline ships (mean target per category,
    // excluding the row itself so the feature never leaks its own
    // label). Per-row LOO mean is (S − x)/(n − 1) from the category's
    // (S, n) — a 5-row broadcast joined back map-side, so the encode
    // pass adds ZERO shuffles to the scan. Encoded values are exact e6
    // rationals via BIGINT floor division; the census (min/max/spread
    // per category) proves the encoding's range without shipping the
    // row-level feature column through the gate. n = 1 categories are
    // excluded (LOO undefined), matching both engines by construction.
    "prep_target_encoding_loo" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
                floor(col("value") * 100 + 0.5).cast("long").as("x"))
      val stats = ev.groupBy(col("event_type").as("et"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      ev.join(broadcast(stats), col("event_type") === col("et"))
        .filter(col("n") > 1)
        .withColumn("loo_e6", expr("(sx - x) * 1000000 div (n - 1)"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
             min(col("loo_e6")).as("loo_min_e6"),
             max(col("loo_e6")).as("loo_max_e6"))
        .withColumn("loo_spread_e6", col("loo_max_e6") - col("loo_min_e6"))
        .orderBy(col("event_type"))
    })
  )

  def oracles: Map[String, String] = Map(
    "prep_kfold_stratified" ->
      """WITH f AS (SELECT lang,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':kfold'), 1, 12))::BIGINT
        |      % 5 AS fold
        |  FROM documents),
        |g AS (SELECT fold, lang, count(*)::BIGINT AS n_docs
        |  FROM f GROUP BY fold, lang)
        |SELECT fold, lang, n_docs,
        |  (max(n_docs) OVER (PARTITION BY lang)
        |   - min(n_docs) OVER (PARTITION BY lang))::BIGINT AS lang_spread
        |FROM g ORDER BY fold, lang""".stripMargin,

    "prep_feature_hashing" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |tb AS (SELECT term,
        |    ('0x' || substr(md5(term), 1, 8))::BIGINT % 64 AS bucket
        |  FROM toks WHERE len(term) > 0),
        |tc AS (SELECT bucket, term, count(*)::BIGINT AS tn
        |  FROM tb GROUP BY bucket, term),
        |top AS (SELECT bucket, term, tn, row_number() OVER (
        |    PARTITION BY bucket ORDER BY tn DESC, term DESC) AS rn FROM tc),
        |agg AS (SELECT bucket, sum(tn)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS n_terms FROM tc GROUP BY bucket)
        |SELECT agg.bucket, agg.n_tokens, agg.n_terms,
        |  top.term AS top_term,
        |  (top.tn * 1000000 // agg.n_tokens)::BIGINT AS top_share_e6
        |FROM agg JOIN top ON top.bucket = agg.bucket AND top.rn = 1
        |ORDER BY agg.bucket""".stripMargin,
    "chunk_documents" ->
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n FROM documents),
         |ci AS (SELECT doc_id, toks, n,
         |    unnest(range(((n + ${stride - 1}) // $stride)::INT)) AS i FROM base)
         |SELECT doc_id, i::INT AS chunk_idx,
         |  least($chunkLen, n - i * $stride)::INT AS n_chunk_tokens,
         |  array_to_string(toks[(i*$stride+1):(i*$stride+$chunkLen)], ' ') AS chunk_text
         |FROM ci ORDER BY doc_id, chunk_idx LIMIT 200""".stripMargin,

    "retrieval_chunk_maxp" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         |base AS (SELECT doc_id, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n FROM d),
         |ci AS (SELECT doc_id, toks, n,
         |    unnest(range(((n + ${stride - 1}) // $stride)::INT)) AS i FROM base),
         |ch AS (SELECT doc_id, i AS chunk_idx,
         |    array_to_string(toks[(i*$stride+1):(i*$stride+$chunkLen)], ' ') AS chunk_text
         |  FROM ci),
         |ctk AS (SELECT doc_id, chunk_idx,
         |    unnest(string_split(chunk_text, ' ')) AS tok FROM ch),
         |cv AS (SELECT doc_id, chunk_idx, [${(0 until 8).map(k =>
                  s"count(*) FILTER (WHERE ('0x' || substr(md5(tok), 1, 4))::INT % 8 = $k)::DOUBLE")
                  .mkString(", ")}] AS v
         |  FROM ctk GROUP BY doc_id, chunk_idx),
         |q(qid, qtext) AS (VALUES ${graft.operators.LexicalOps.queryValuesSql}),
         |qv AS (${graft.operators.LexicalOps.embedSql("q", "qid", "qtext")}),
         |cos AS (SELECT qv.qid, cv.doc_id,
         |    floor(list_dot_product(qv.v, cv.v) /
         |          (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(cv.v, cv.v))) *
         |          1e9 + 0.5)::BIGINT AS cos_e9
         |  FROM cv CROSS JOIN qv),
         |mx AS (SELECT qid, doc_id, max(cos_e9) AS best_cos_e9 FROM cos
         |  GROUP BY qid, doc_id),
         |r AS (SELECT qid, doc_id, best_cos_e9,
         |    row_number() OVER (PARTITION BY qid ORDER BY best_cos_e9 DESC, doc_id) AS rank
         |  FROM mx)
         |SELECT qid, rank::INT AS rank, doc_id, best_cos_e9
         |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, lang,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM t),
        |b AS (SELECT lang, ((cum - 1) // 4096)::BIGINT AS batch_id, n_tokens FROM c)
        |SELECT lang, batch_id, count(*) AS n_docs,
        |  sum(n_tokens)::BIGINT AS sum_tokens
        |FROM b GROUP BY lang, batch_id ORDER BY lang, batch_id""".stripMargin,

    "shard_by_bytes" ->
      """WITH t AS (SELECT doc_id, coalesce(n_chars, 0)::BIGINT AS n_bytes
        |  FROM documents),
        |c AS (SELECT doc_id, n_bytes,
        |  sum(n_bytes) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_bytes
        |  FROM t)
        |SELECT doc_id, n_bytes, cum_bytes::BIGINT AS cum_bytes,
        |  ((greatest(cum_bytes, 1) - 1) // 16384)::BIGINT AS shard
        |FROM c ORDER BY doc_id""".stripMargin,

    "prep_epoch_shuffle" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    md5('epoch1:' || doc_id::VARCHAR) AS h FROM documents),
        |s AS (SELECT doc_id, n_tokens, h,
        |    (('0x' || substr(h, 1, 8))::BIGINT % 8) AS shard FROM t),
        |p AS (SELECT shard, doc_id, n_tokens,
        |    row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos FROM s)
        |SELECT shard, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens,
        |  sum(pos * doc_id)::BIGINT AS order_checksum
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,

    "prep_target_encoding_loo" ->
      """WITH ev AS (SELECT event_type,
        |    floor(value * 100 + 0.5)::BIGINT AS x FROM events),
        |st AS (SELECT event_type, sum(x)::BIGINT AS sx, count(*)::BIGINT AS n
        |  FROM ev GROUP BY event_type),
        |lo AS (SELECT ev.event_type, st.n,
        |    (st.sx - ev.x) * 1000000 // (st.n - 1) AS loo_e6
        |  FROM ev JOIN st USING (event_type) WHERE st.n > 1)
        |SELECT event_type, max(n)::BIGINT AS n,
        |  min(loo_e6)::BIGINT AS loo_min_e6, max(loo_e6)::BIGINT AS loo_max_e6,
        |  (max(loo_e6) - min(loo_e6))::BIGINT AS loo_spread_e6
        |FROM lo GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
