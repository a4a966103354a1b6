package graft.operators

import graft.Tables
import graft.api.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's ENTIRE per-file dataflow as one composed lazy DAG
  * (`main.py:120-162`): decode → transcribe → diarize → coalesce
  * speakers → align → render — ending in per-file dialogue output,
  * exactly the artifact `_save_transcription` stages to disk
  * (`transcription.py:334-367`).
  *
  * The two ML stages are deterministic stubs derived from the document
  * text (the fixture contract, SURVEY §7.1): "transcription" chunks the
  * token stream 10 tokens per 3-second chunk with a synthetic confidence
  * (null every 5th chunk → exercises the A5 default), "diarization"
  * emits 6-second alternating-speaker turns. Everything downstream —
  * W1 islands, the J1 cursor, A5/A7 aggregation, K2 rendering — is the
  * production operator chain (TranscriptOps), unchanged.
  *
  * Scale: one DAG per corpus, not per file — where the reference loops
  * files through the filesystem (re-reading every stage, `main.py:106`
  * re-embeds ALL txt files every poll), this plan partitions by file_id
  * once and streams each stage into the next with no intermediate
  * materialization. A million files = a million independent partitions
  * of the same five-operator plan.
  */
object PipelineOps {

  /** Deterministic "transcription": 10-token chunks, 3 s apart. */
  private[graft] def fakeChunks(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id").as("file_id"), toks.as("toks"))
      .withColumn("c", ((size(col("toks")) + 9) / 10).cast("int"))
      .select(col("file_id"), col("toks"),
              explode(sequence(lit(0), col("c") - 1)).as("i"))
      .select(col("file_id"), col("i").as("chunk_idx"),
        array_join(slice(col("toks"), col("i") * 10 + 1, lit(10)), " ").as("text"),
        (col("i") * 3.0).as("t_start"),
        ((col("i") + 1) * 3.0).as("t_end"),
        when((col("file_id") + col("i")) % 5 === 0, lit(null).cast("double"))
          .otherwise(((col("file_id") * 7 + col("i")) % 100) / 100.0).as("confidence"))
  }

  /** Deterministic "diarization": 6 s alternating-speaker turns. */
  private[graft] def fakeSegments(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id").as("file_id"), toks.as("toks"))
      .withColumn("c", ((size(col("toks")) + 9) / 10).cast("int"))
      .select(col("file_id"),
              explode(sequence(lit(0), ((col("c") + 1) / 2).cast("int") - 1)).as("j"))
      .select(col("file_id"), col("j").as("seg_idx"),
        (col("j") * 6.0).as("spk_start"),
        ((col("j") + 1) * 6.0).as("spk_end"),
        concat(lit("SPEAKER_0"), (col("file_id") + col("j")) % 2).as("speaker"))
  }

  /** 8-dim hashing embedding per document, L2-normalized (the
    * deterministic stand-in for SentenceTransformer encode — same
    * math as RetrievalOps.v1_hash_embed, exposed as a vector).
    * Single native pass ([[graft.functions.TextSignatures.HashEmbed8]]):
    * the embed stage is map-side-only — no token explode, no aggregate,
    * no shuffle. At 100 TB the embedding pass is pure scan throughput. */
  private[graft] def hashEmbeddings(docs: DataFrame): DataFrame = {
    import graft.functions.VectorFns
    val raw = graft.functions.TextSignatures.hashEmbed8(col("text"))
    docs
      .filter(col("text").isNotNull) // oracle's unnest drops null-text docs
      .select(col("doc_id"), raw.as("raw"))
      .withColumn("norm", VectorFns.l2Norm(col("raw")))
      .select(col("doc_id"), VectorFns.l2NormalizeBy(col("raw"), col("norm")).as("vec"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The reference's end purpose in one DAG: corpus → embed (V1 stub) →
    // flat IP index (V2 ≡ the table) → cosine top-k retrieval (V3) —
    // text in, ranked neighbors out, no staging between stages.
    "pipeline_rag_retrieval" -> ((s, dir) => {
      import graft.functions.VectorFns
      val emb = hashEmbeddings(Tables.documentsSpread(s, dir))
        .repartition(col("doc_id")) // materialize embeddings once
      val q = Graft.querySet(emb, 3, Seq(col("vec").as("qv")), idCol = "doc_id")
      Graft.topK(Graft.scoredPairs(emb, q, VectorFns.dot(col("qv"), col("vec")),
          idCol = "doc_id"), 3, "score", "doc_id")
        .select(col("qid"), col("rank"), col("doc_id").as("match_id"),
                floor(col("score") * 1e6 + 0.5).cast("long").as("score_e6"))
        .orderBy(col("qid"), col("rank"))
    }),

    "pipeline_e2e" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
      val utt = TranscriptOps.align(fakeSegments(docs), fakeChunks(docs))
      utt.groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_utts"),
             floor(avg(col("confidence")) * 1e6 + 0.5).cast("long").as("avg_conf_e6"),
             array_join(
               transform(
                 array_sort(collect_list(struct(
                   col("utt_idx"), col("speaker"), col("text"),
                   col("t_start"), col("t_end")))),
                 x => format_string("[%.2f-%.2f] %s: %s",
                   x.getField("t_start"), x.getField("t_end"),
                   x.getField("speaker"), x.getField("text"))),
               " | ").as("dialogue"))
        .select(col("file_id").as("doc_id"), col("n_utts"),
                col("avg_conf_e6"), col("dialogue"))
        .orderBy(col("doc_id"))
    })
  )

  def oracles: Map[String, String] = Map(
    "pipeline_rag_retrieval" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(tok), 1, 4))::INT % 8 AS INT) AS hd FROM tok),
        |c AS (SELECT doc_id,
        |  count(*) FILTER (WHERE hd = 0)::DOUBLE AS d0,
        |  count(*) FILTER (WHERE hd = 1)::DOUBLE AS d1,
        |  count(*) FILTER (WHERE hd = 2)::DOUBLE AS d2,
        |  count(*) FILTER (WHERE hd = 3)::DOUBLE AS d3,
        |  count(*) FILTER (WHERE hd = 4)::DOUBLE AS d4,
        |  count(*) FILTER (WHERE hd = 5)::DOUBLE AS d5,
        |  count(*) FILTER (WHERE hd = 6)::DOUBLE AS d6,
        |  count(*) FILTER (WHERE hd = 7)::DOUBLE AS d7
        |  FROM h GROUP BY doc_id),
        |e AS (SELECT doc_id,
        |  [d0, d1, d2, d3, d4, d5, d6, d7] AS raw,
        |  sqrt(d0*d0 + d1*d1 + d2*d2 + d3*d3 + d4*d4 + d5*d5 + d6*d6 + d7*d7) AS norm
        |  FROM c),
        |v AS (SELECT doc_id, list_transform(raw, x -> x / norm) AS vec FROM e),
        |q AS (SELECT doc_id AS qid, vec AS qv FROM v WHERE doc_id < 3),
        |scored AS (SELECT q.qid, v.doc_id, list_dot_product(q.qv, v.vec) AS score
        |  FROM v CROSS JOIN q WHERE v.doc_id <> q.qid),
        |r AS (SELECT qid, doc_id, score, row_number() OVER (PARTITION BY qid
        |  ORDER BY score DESC, doc_id) AS rank FROM scored)
        |SELECT qid, rank::INT AS rank, doc_id AS match_id,
        |  CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS score_e6
        |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "pipeline_e2e" ->
      s"""WITH base AS (SELECT doc_id AS file_id, string_split(text, ' ') AS toks,
         |  ((len(string_split(text, ' ')) + 9) // 10)::INT AS c
         |  FROM documents WHERE doc_id < 200),
         |ci AS (SELECT file_id, toks, unnest(range(c)) AS i FROM base),
         |chunks AS (SELECT file_id, i AS chunk_idx,
         |  array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS text,
         |  i * 3.0 AS t_start, (i + 1) * 3.0 AS t_end,
         |  CASE WHEN (file_id + i) % 5 = 0 THEN NULL
         |       ELSE ((file_id * 7 + i) % 100) / 100.0 END AS confidence
         |  FROM ci),
         |sj AS (SELECT file_id, unnest(range((c + 1) // 2)) AS j FROM base),
         |segments AS (SELECT file_id, j AS seg_idx, j * 6.0 AS spk_start,
         |  (j + 1) * 6.0 AS spk_end,
         |  'SPEAKER_0' || ((file_id + j) % 2) AS speaker
         |  FROM sj),
         |${TranscriptOps.islandsSqlCtes},
         |${TranscriptOps.alignSqlCtes}
         |SELECT file_id AS doc_id, count(*) AS n_utts,
         |  CAST(floor(avg(confidence) * 1e6 + 0.5) AS BIGINT) AS avg_conf_e6,
         |  string_agg(printf('[%.2f-%.2f] %s: %s', t_start, t_end, speaker, text),
         |             ' | ' ORDER BY utt_idx) AS dialogue
         |FROM utt GROUP BY file_id ORDER BY doc_id""".stripMargin
  )
}
