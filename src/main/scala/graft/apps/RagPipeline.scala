package graft.apps

import graft.{BenchEnv, Tables}
import graft.api.{Graft, Pins}
import graft.api.Pins.PinSyntax
import graft.operators.{PipelineOps, PrepOps}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's entire outer loop (`/root/reference/src/main.py:120-162`)
  * as ONE runnable Spark application: a user of the reference points this
  * at their corpus instead of running the poll loop.
  *
  * Reference loop                          → stage here
  * ------------------------------------------------------------------
  * list bucket, skip downloaded keys       → ingest(): anti-join vs state table
  * transcribe + diarize (GPU models)       → stub stage (fixture contract,
  *                                           SURVEY §7.1) → islands → align
  * _save_transcription (json + dialogue)   → utterances + dialogue parquet
  * build_embeddings (re-embeds EVERYTHING  → curate → chunk → hash-embed,
  *   every loop, main.py:106)                incremental by construction
  * faiss.write_index + metadata pickle     → index parquet (flat IP index
  *                                           ≡ the table, K3/K4)
  * implied IndexFlatIP search              → cosine top-k demo
  *
  * Where the reference stages through the filesystem and re-reads every
  * pass, each stage here is a lazy plan over the previous stage's
  * parquet, except for three frames laid out or pinned on purpose:
  *  - the corpus, laid out once — one frame, hash-partitioned by
  *    `doc_id` at [[Tables.spreadWidth]], for ingest and stage 3. It is
  *    a layout, not a pin: every execution that consumes it scans the
  *    file and shuffles it again (ingest, the MinHash signatures, the
  *    Jaccard verification and curation each start from a file scan);
  *  - the fresh docs, hash-partitioned by `doc_id` again before the
  *    transcript stubs, which carry it as `file_id`;
  *  - the curated chunk frame, pinned ([[Pins.bounded]]) for its two
  *    writes, the index and its metadata.
  *
  * Why: locally the corpus is ONE parquet split, and adaptive execution
  * coalesces every small keyed shuffle to one partition, so each
  * per-document kernel ran as a single task on one core (measured, 5000
  * docs on 4 cores: the MinHash signature stage 840 ms, the dialogue
  * aggregate 460 ms, each one task). An explicit width is a
  * REPARTITION_BY_NUM exchange, which adaptive execution leaves at that
  * width: the signatures now run as 4 tasks (290 ms). Every join, window
  * and aggregate of the alignment and the per-file dialogue is keyed by
  * `file_id`, so they run inside the fresh docs' partitions with no
  * further exchange (RagPipelineSpec asserts the plan); one exchange
  * feeds all four align inputs, where a layout per input would shuffle
  * the chunk frame three times. The pin stops the second write from
  * replaying the dedup → score → quota front (two 120 ms passes → one).
  * The width is the local-mode one (4–8 tasks); on a cluster the layouts
  * would take the scan's split count instead, and the pin guard already
  * declines a corpus-sized chunk frame. The ingest-state pin is the only
  * boundary that always materializes.
  *
  * The run has two branches, and they run at the same time. Stages 1–2
  * (ingest, then the dialogue append) stay on the calling thread. Stages
  * 3–5 (dedup → curate → chunk → embed → index → retrieval demo) run on
  * a second driver thread, `rag-index`, started as soon as the corpus
  * frame exists. This is safe because the index is a function of the
  * corpus only: it reads neither the ingest state nor the dialogues, and
  * the branches write disjoint directories (`index`, `index_meta`,
  * `retrieval_demo` against `state*` and `dialogues`). Both branches
  * pin through [[Pins]], which frees a pin only by its own record:
  * the dedup's components kernel unpersists only the RDDs it made
  * itself, so ingest's pin of the fresh docs survives it, and the
  * index thread's pins belong to the caller's query (the thread
  * inherits its pin owner), so the caller's release frees them. Why: most stages of either branch run
  * one or two tasks, so on a 4-core host the other branch's jobs fill
  * cores that sat idle. The thread is created by `run`, not taken from a
  * pool, so it starts with a copy of the caller's local properties: its
  * jobs carry the caller's job group (cancelling the group stops both
  * branches), scheduler pool and job tags. `run` returns only once both
  * branches have ended; it throws the first failure and attaches the
  * other branch's failure, if any, as suppressed. One failure behaviour
  * differs from running the stages in order: a failing ingest no longer
  * stops the index rewrite, which runs to its end and writes the same
  * content a successful run would.
  *
  * Run: `sbt "runMain graft.apps.RagPipeline <sfDir> <outDir>"`. The
  * session is [[BenchEnv.session]]: `local[SPARK_GRAFT_CPUS]`, else one
  * slot per available core, like every other main.
  */
object RagPipeline {

  /** A missing-path read failure (no state yet) vs a real one (corrupt
    * or unreadable state, which must FAIL the run rather than silently
    * re-ingest everything). */
  private def isPathMissing(e: org.apache.spark.sql.AnalysisException): Boolean =
    e.getMessage.contains("PATH_NOT_FOUND") ||
      e.getMessage.contains("Path does not exist")

  /** The ingestion state's schema: [[ingest]] writes the state, always
    * as this one column, so reading it needs no footer job. */
  private val stateSchema = new org.apache.spark.sql.types.StructType()
    .add("doc_id", org.apache.spark.sql.types.LongType)

  /** Current ingestion state: `stateDir`, else the `_old` generation a
    * crash mid-swap may have left behind, else empty (first run). A
    * missing path still fails at the read, declared schema or not; a
    * corrupt file fails in ingest's first job that scans the state. */
  private def readState(spark: SparkSession, stateDir: String): DataFrame = {
    def read(dir: String) = spark.read.schema(stateSchema).parquet(dir)
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
    try read(stateDir)
    catch { case e: org.apache.spark.sql.AnalysisException if isPathMissing(e) =>
      try read(stateDir + "_old")
      catch { case e2: org.apache.spark.sql.AnalysisException if isPathMissing(e2) =>
        empty
      }
    }
  }

  /** Exactly-once ingestion: new docs = corpus ∖ state (J2/T2 batch
    * form — the reference's downloaded_files.json, `aws_bucket.py:55-68`).
    * Writes the updated state beside the current one and swaps by
    * renaming the current generation aside (never delete-then-rename: a
    * crash between the renames still leaves `_old`, which readState
    * falls back to — no window where no state exists and the run would
    * re-ingest + duplicate the appended dialogues). A second run over
    * the same corpus ingests nothing. */
  def ingest(spark: SparkSession, docs: DataFrame, stateDir: String): DataFrame = {
    val state = readState(spark, stateDir)
    val fresh = docs.join(broadcast(state), Seq("doc_id"), "left_anti")
      .pin(eager = true) // pin: `fresh` must not observe the state swap below
    fresh.select(col("doc_id")).union(state)
      .write.mode(SaveMode.Overwrite).parquet(stateDir + "_next")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(stateDir)
    val old = new org.apache.hadoop.fs.Path(stateDir + "_old")
    fs.delete(old, true)
    if (fs.exists(cur)) fs.rename(cur, old)
    fs.rename(new org.apache.hadoop.fs.Path(stateDir + "_next"), cur)
    fs.delete(old, true) // new generation durable; retire the fallback
    fresh
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "target/rag_pipeline_out"
    val spark = BenchEnv.session()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, outDir) finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    // the corpus, for both branches (layout: see the header)
    val width = Tables.spreadWidth(spark)
    val docs = Tables.documents(spark, sfDir).repartition(width, col("doc_id"))
    // Stages 3–5 read only the corpus: they run on a thread of their own
    // while this one ingests and appends the dialogues (see the header).
    // Failures are queued in the order they happen.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val indexBranch = new Thread(() =>
      try buildIndex(docs, outDir)
      catch { case e: Throwable => failures.add(e): Unit }, "rag-index")
    indexBranch.start()
    try {
      // 1. ingest with exactly-once state
      val fresh = ingest(spark, docs, s"$outDir/state")

      // 2. "transcribe"/"diarize" stubs → production islands + alignment →
      //    per-file dialogue (the reference's _save_transcription artifact).
      //    INCREMENTAL: only fresh files are transcribed, and the state
      //    gate makes the append exactly-once — a rerun appends nothing.
      //    Both align inputs key on file_id = doc_id, so one doc_id layout
      //    serves the whole stage (see the header).
      val byFile = fresh.repartition(width, col("doc_id"))
      //    Lines are ordered by `utt_idx`, the alignment's island index,
      //    which is unique within a file.
      val utt = Graft.alignTranscript(
        PipelineOps.fakeSegments(byFile), PipelineOps.fakeChunks(byFile))
      utt.groupBy(col("file_id"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(
              col("utt_idx"), Graft.renderDialogue(utt).as("line")))),
            _.getField("line")), "\n").as("dialogue"))
        .write.mode(SaveMode.Append).parquet(s"$outDir/dialogues")
    } catch { case e: Throwable => failures.add(e): Unit }
    finally joinUninterruptibly(indexBranch)
    Option(failures.poll()).foreach { first =>
      failures.forEach(first.addSuppressed(_))
      throw first
    }
    println(s"[rag-pipeline] staged artifacts under $outDir")
  }

  /** Waits for `t` to end even if this thread is interrupted meanwhile
    * (the interrupt is re-asserted afterwards): `run` never returns while
    * its index branch still runs. */
  private def joinUninterruptibly(t: Thread): Unit = {
    var interrupted = false
    while (t.isAlive)
      try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }

  /** Stages 3–5: a function of the corpus alone (it reads neither the
    * ingest state nor the dialogues) that writes `index`, `index_meta`
    * and `retrieval_demo` under `outDir`. */
  private def buildIndex(docs: DataFrame, outDir: String): Unit = {
    val spark = docs.sparkSession
    // 3. dedup + curate the text corpus (the selection stages the
    //    reference lacks), then chunk to overlapping windows. REBUILT
    //    from the full corpus each run — quota selection is global, so
    //    it cannot be computed on the fresh increment alone (the
    //    reference also re-embeds everything each loop, main.py:106;
    //    at 100 TB this stage gates on a curation-state table instead).
    //    3a. near-dup CLUSTER dedup before quota selection: LSH pairs →
    //    connected components → drop every non-canonical member. The
    //    pair set is dedup OUTPUT-sized, so the components kernel labels
    //    it on the driver (one bounded collect) below its size guard;
    //    the non-canonical id set is smaller still, so it broadcasts
    //    into a left-anti join against the corpus.
    val nonCanonical = Graft.connectedComponentLabels(
        Graft.minhashNearDups(docs, "doc_id", "text")
          .select(col("a_id").as("a"), col("b_id").as("b")))
      .filter(col("v") =!= col("lbl"))
      .select(col("v").as("doc_id"))
    val deduped = docs.join(broadcast(nonCanonical), Seq("doc_id"), "left_anti")
    val curated = Graft.curateQuota(
      graft.operators.CurationOps.scored(deduped), "doc_id", "text", "lang", "quality_e6", 50)
    // pinned: the index and index_meta writes both consume it
    val chunks = Pins.bounded(
      PrepOps.chunkDocuments(curated.select(col("doc_id"), col("text"))))

    // 4. embed chunks (deterministic hashing embedder standing in for the
    //    model, V1) → the flat-IP index IS the parquet table (K3), with
    //    chunk text as metadata alongside (K4). The index key is the
    //    COMPOSITE (doc_id, chunk_idx) struct — a derived scalar like
    //    doc_id*1000+chunk_idx collides once a document reaches 1000
    //    chunks and silently cross-attributes vectors to chunk text
    //    (PrepOps.chunkDocuments documents the same trap).
    val chunkKey = struct(col("doc_id"), col("chunk_idx"))
    val emb = PipelineOps.hashEmbeddings(
      chunks.select(chunkKey.as("doc_id"), col("chunk_text").as("text")))
    val indexRows = emb.select(col("doc_id").as("chunk_key"), col("vec"))
    indexRows.write.mode(SaveMode.Overwrite).parquet(s"$outDir/index")
    chunks.select(chunkKey.as("chunk_key"), col("chunk_text"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/index_meta")

    // 5. retrieval demo over the written index (K6 + V3) — the struct
    //    key flows through cosineTopK's join/window unchanged. The
    //    queries are the three smallest keys, not the first three rows
    //    read, so the demo does not depend on the index's file layout.
    //    Read with the schema just written: inferring it from the footers
    //    would cost a Spark job.
    val index = spark.read.schema(indexRows.schema).parquet(s"$outDir/index")
    val q = index.orderBy(col("chunk_key")).limit(3)
      .select(col("chunk_key").as("qid"), col("vec").as("qvec"))
    Graft.cosineTopK(q,
        index.select(col("chunk_key").as("vec_id"), col("vec").as("embedding")), 3)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/retrieval_demo")
  }
}
