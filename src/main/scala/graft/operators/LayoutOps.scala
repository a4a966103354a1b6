package graft.operators

import graft.Tables
import graft.api.Pins.PinSyntax
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Physical-layout operators: bucketed co-location, type-1 CDC apply,
  * and k-anonymity release gating (SURVEY.md §2.5/§2.10 extensions).
  *
  * The reference stages every table as loose S3 objects and re-reads them
  * wholesale per step (`/root/reference/src/aws_bucket.py:160-195`); at
  * 100 TB the single most valuable physical decision Spark offers over
  * that layout is BUCKETING: pre-hash-partitioning both fact tables by
  * their join key at write time so the recurring fact-fact join never
  * shuffles again. `j_bucketed_colocated` does it for real — writes both
  * sides with `bucketBy(8, key)`, joins through the catalog, and
  * BucketedJoinSpec asserts the physical plan contains ZERO shuffle
  * exchanges — while its DuckDB oracle checks the result off the plain
  * tables, so co-location is proven to be a pure layout change, not a
  * semantics change.
  *
  * Scale notes: the bucketed write is a one-time cost equal to one
  * shuffle of each table; every subsequent join of the two tables on the
  * bucket key is exchange-free (scan → sort-within-bucket → merge join).
  * On a 1000-executor cluster bucket count would be O(cluster cores),
  * not 8 — the number is per-SF-local, the mechanism is identical.
  * CDC-apply shuffles once on the entity key (window), k-anonymity once
  * on the quasi-identifier — both minimal for their semantics.
  */
object LayoutOps {

  /** Register (idempotently, per session+SF) bucketed copies of lineitem
    * and orders, bucketed AND sorted by their join key. Returns the two
    * catalog table names. A same-JVM re-run (Bench's two passes) reuses
    * the catalog entry, but only while the SOURCE parquet is unchanged:
    * a sidecar fingerprint (every source file's mtime+length) guards the
    * reuse, so a driver-side testdata regeneration invalidates the
    * bucketed copy instead of serving stale rows through the catalog. */
  private[graft] def bucketedPair(s: SparkSession, dir: String): (String, String) = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val (liName, ordName) = (s"graft_li_bucketed_$tag", s"graft_ord_bucketed_$tag")
    def fingerprint(src: String): String = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
        else Seq(f)
      walk(new java.io.File(src))
        .map(f => s"${f.getName}:${f.lastModified}:${f.length}").mkString("|")
    }
    def ensure(name: String, src: String, df: => DataFrame, key: String): Unit = {
      val fpFile = new java.io.File(s"target/graft_bucketed/$name.fp")
      val fp = fingerprint(src)
      val fresh = fpFile.exists &&
        new String(java.nio.file.Files.readAllBytes(fpFile.toPath)) == fp
      if (!s.catalog.tableExists(name) || !fresh) {
        df.write.format("parquet")
          .bucketBy(8, key).sortBy(key)
          .option("path",
            new java.io.File(s"target/graft_bucketed/$name").getAbsolutePath)
          .mode("overwrite")
          .saveAsTable(name)
        fpFile.getParentFile.mkdirs()
        java.nio.file.Files.write(fpFile.toPath, fp.getBytes)
      }
    }
    ensure(liName, s"$dir/lineitem.parquet", Tables.lineitem(s, dir), "l_orderkey")
    ensure(ordName, s"$dir/orders.parquet", Tables.orders(s, dir), "o_orderkey")
    (liName, ordName)
  }

  /** Top-8 most-common values of a (k, f) frequency table, ties broken
    * key-ascending — the deterministic MCV list the chain estimator and
    * the persisted stats snapshot share. orderBy+limit compiles to
    * TakeOrderedAndProject (parallel per-partition top-8 + a merge of
    * 8-row partials), NOT a single-partition global sort — at 100 TB
    * the frequency table is |keys| rows and must never funnel through
    * one task (r13 self-review fix; result identical since k is a
    * unique group key). */
  private def mcv8(ft: DataFrame): DataFrame =
    ft.orderBy(col("f").desc, col("k")).limit(8)

  /** Pinned per-key frequency table — the MCV and totals branches both
    * read it, so the fact table is scanned once per snapshot side. */
  private def freqTable(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key).as("k")).agg(count(lit(1)).as("f"))
      .pin(eager = false)

  /** One side's snapshot rows: MCV top-8 + (n, d) totals in a single
    * row shape. kind is an EXPLICIT marker, not k IS NULL: a genuine
    * null-key frequency group reaching the MCV list must never be
    * misread as a totals row (r13 self-review). Shared by the stats
    * snapshot, the prior-stats snapshot, and the staleness gate's live
    * side. */
  private def statsSideRowsTyped(ft: DataFrame, side: String,
      kType: String): DataFrame =
    mcv8(ft).select(lit(side).as("side"), lit("mcv").as("kind"),
        col("k"), col("f"),
        lit(null).cast("long").as("n"), lit(null).cast("long").as("d"))
      .unionByName(ft.agg(sum(col("f")).as("n"), count(lit(1)).as("d"))
        .select(lit(side).as("side"), lit("tot").as("kind"),
                lit(null).cast(kType).as("k"),
                lit(null).cast("long").as("f"), col("n"), col("d")))

  private def statsSideRows(ft: DataFrame, side: String): DataFrame =
    statsSideRowsTyped(ft, side, "long")

  /** ANALYZE-TABLE-as-a-lake-artifact: per-side MCV top-8 + (n, d)
    * totals for events.user_id and lineitem.l_orderkey, written ONCE
    * to a SHA-tagged snapshot — the statistics a catalog persists so
    * the optimizer never rescans the fact tables at plan time. */
  private def statsSnapshotDir(s: SparkSession, dir: String): String =
    graft.api.Graft.snapshotFixtureDir("layout_stats", dir) { out =>
      statsSideRows(freqTable(Tables.events(s, dir), "user_id"),
          "events_user")
        .unionByName(statsSideRows(
          freqTable(Tables.lineitem(s, dir), "l_orderkey"), "lineitem_ok"))
        .coalesce(1).write.mode("overwrite").parquet(out)
    }

  /** The PRIOR ingest state's statistics (r13 verdict #5): the same
    * MCV+totals artifact, but the events side is profiled BEFORE its
    * latest ~1/8 md5-sampled batch arrived (a deterministic subset —
    * the historical ANALYZE run), lineitem unchanged. The staleness
    * gate diffs live statistics against this. */
  private def statsPriorSnapshotDir(s: SparkSession, dir: String): String =
    graft.api.Graft.snapshotFixtureDir("layout_stats_prior", dir) { out =>
      val priorEvents = Tables.events(s, dir).filter(
        conv(substring(md5(concat(col("event_id").cast("string"),
          lit(":st"))), 1, 4), 16, 10).cast("long") % 8 =!= 0)
      statsSideRows(freqTable(priorEvents, "user_id"), "events_user")
        .unionByName(statsSideRows(
          freqTable(Tables.lineitem(s, dir), "l_orderkey"), "lineitem_ok"))
        .coalesce(1).write.mode("overwrite").parquet(out)
    }

  /** SECOND TABLE FAMILY through the staleness machinery (r14 verdict
    * #3): the same MCV+totals prior-stats artifact over the
    * (source, lang) grain of `documents` — profiled BEFORE its latest
    * ~1/8 md5-sampled ingest batch, the drifted branch — and the
    * label grain of `embeddings`, whose prior IS its live table, the
    * stable branch. The key column is STRING here (the composite
    * source|lang and the stringified label), which the gate machinery
    * — freqTable / mcv8 / the side report — never assumed away; only
    * the snapshot's null-totals row needed its key type parameterized
    * (statsSideRowsTyped). */
  private def docStatsPriorSnapshotDir(s: SparkSession, dir: String): String =
    graft.api.Graft.snapshotFixtureDir("layout_stats_prior_doc", dir) { out =>
      val priorDocs = Tables.documents(s, dir).filter(
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":std"))), 1, 4), 16, 10).cast("long") % 8 =!= 0)
        .withColumn("src_lang",
          concat(col("source"), lit("|"), col("lang")))
      val emb = Tables.embeddings(s, dir)
        .withColumn("lbl", col("label").cast("string"))
      statsSideRowsTyped(freqTable(priorDocs, "src_lang"),
          "documents_srclang", "string")
        .unionByName(statsSideRowsTyped(freqTable(emb, "lbl"),
          "embeddings_label", "string"))
        .coalesce(1).write.mode("overwrite").parquet(out)
    }

  /** One side of the stats-staleness report: the live frequency table
    * (pinned — totals, top-8, and the MCV probe all read the one
    * materialization) diffed against the persisted prior snapshot
    * with integer e6 gates → a re-ANALYZE flag. Key-type agnostic
    * (BIGINT and STRING grains both flow through); shared by the
    * events/lineitem gate and the documents/embeddings family. */
  private def stalenessSide(snap: DataFrame, side: String,
      ft: DataFrame): DataFrame = {
    val sTot = snap.filter(col("side") === side && col("kind") === "tot")
      .select(col("n").as("n_snap"), col("d").as("d_snap"))
    val sMcv = snap.filter(col("side") === side && col("kind") === "mcv")
      .select(col("k"), col("f").as("f_snap"))
    val lTot = ft.agg(sum(col("f")).as("n_live"),
      count(lit(1)).as("d_live"))
    val overlap = sMcv
      .join(mcv8(ft).select(col("k").as("mk")),
            col("k") === col("mk"), "left_semi")
      .agg(count(lit(1)).as("mcv_overlap"))
    // live frequency of the PERSISTED MCV keys (⤳ inner join is
    // exact here: the prior feed is a subset of live, so its keys
    // all survive; a vanished key would surface through overlap)
    val drift = ft.join(broadcast(sMcv), Seq("k"))
      .select(expr("abs(f - f_snap) * 1000000 div greatest(f_snap, 1)")
        .as("fd"))
      .agg(coalesce(max(col("fd")), lit(0L)).as("max_mcv_f_drift_e6"))
    sTot.crossJoin(lTot).crossJoin(overlap).crossJoin(drift)
      .select(lit(side).as("side"), col("n_snap"), col("n_live"),
              col("d_snap"), col("d_live"), col("mcv_overlap"),
              col("max_mcv_f_drift_e6"))
      .withColumn("drift_n_e6",
        expr("abs(n_live - n_snap) * 1000000 div greatest(n_snap, 1)"))
      .withColumn("drift_d_e6",
        expr("abs(d_live - d_snap) * 1000000 div greatest(d_snap, 1)"))
      .withColumn("reanalyze",
        (col("drift_n_e6") > 50000 || col("mcv_overlap") < 8 ||
         col("max_mcv_f_drift_e6") > 100000).cast("int"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // Fact-fact join through bucketed co-located layout: revenue by order
    // priority. Both scans carry their bucket hash distribution into the
    // join, so the plan has no shuffle exchange at all (spec-asserted);
    // the oracle computes the same aggregate from the raw tables.
    "j_bucketed_colocated" -> ((s, dir) => {
      val (liName, ordName) = bucketedPair(s, dir)
      val li  = s.table(liName)
      val ord = s.table(ordName)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
             round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
               .as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // Type-1 CDC apply (last-writer-wins snapshot with deletes) — the
    // SCD1 complement of scd2_user_state: each event is a change record
    // (error ⇒ DELETE the key, anything else ⇒ UPSERT value); the
    // snapshot is the surviving latest row per key. One shuffle on the
    // entity key; change order is the exact (ts, event_id) total order,
    // so arrival order never matters.
    "cdc_scd1_snapshot" -> ((s, dir) => {
      val latest = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("op", when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
        .withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1 && col("op") === "U")
        .select(col("user_id"),
                round(col("value"), 2).as("last_value"),
                col("ts").as("last_ts"))
        .orderBy(col("user_id"))
    }),

    // Z-order (Morton) clustering over (user_id, day) — the multi-
    // dimensional layout clustering Delta/Iceberg OPTIMIZE ZORDER uses:
    // interleave the bits of both dimensions so that sorting by ONE
    // value co-locates rows that are close in EITHER dimension, giving
    // min/max row-group pruning on both a user predicate and a date
    // predicate from a single sort order. The query emits per-64-slot
    // z-range buckets with their dimension envelopes; LayoutOpsSpec
    // asserts the Z-curve prefix property (every bucket spans ≤ 8
    // values of EACH dimension) — exactly the bound that makes file-
    // level min/max stats selective at 100 TB. Pure map-side compute +
    // one census shuffle on the bucket id.
    // 21 bits per dimension (42-bit Morton value, Delta's interleave
    // width): ids up to 2^21 interleave without aliasing, so the
    // envelope bound below survives every SF whose id domain fits 2M —
    // and LayoutOpsSpec asserts max(user_id) < 2^21 against the real
    // data so a domain overflow fails a local test, not silently.
    "layout_zorder_cluster" -> ((s, dir) => {
      val zTerms = (0 until 21).map(i =>
        s"(shiftleft(shiftright(uu, $i) & 1, ${2 * i + 1}) + " +
        s"shiftleft(shiftright(dd, $i) & 1, ${2 * i}))").mkString(" + ")
      Tables.events(s, dir)
        .withColumn("uu", col("user_id").bitwiseAND(lit(2097151L)))
        .withColumn("dd", dayofmonth(col("ts")).cast("long").bitwiseAND(lit(2097151L)))
        .withColumn("zv", expr(zTerms))
        .withColumn("bucket", expr("shiftright(zv, 6)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
             min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
             min(col("dd")).as("min_day"), max(col("dd")).as("max_day"))
        .orderBy(col("bucket"))
    }),

    // k-anonymity release gate over quasi-identifiers (lang, source):
    // groups smaller than k (=8) collapse into one suppressed '*'/'*' bucket
    // before release — the standard pre-publication step for any
    // training-corpus metadata export. Census shuffle on the
    // quasi-identifier, then a one-row-per-group reduction: nothing here
    // grows faster than the number of distinct identifier combinations.
    "privacy_k_anonymity" -> ((s, dir) => {
      val k = 8
      val census = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
      val kept = census.filter(col("n") >= k)
        .select(col("lang"), col("source"), col("n"))
      val suppressed = census.filter(col("n") < k)
        .agg(sum(col("n")).as("n"))
        .select(lit("*").as("lang"), lit("*").as("source"), col("n"))
        .filter(col("n").isNotNull) // no violating groups → no '*' row
      kept.unionAll(suppressed).orderBy(col("lang"), col("source"))
    }),

    // l-diversity audit — k-anonymity's complement: a quasi-identifier
    // group is safe only if its SENSITIVE attribute also takes ≥ l
    // distinct values (an 8-strong group that all share one value still
    // leaks it). QI = (lang, source); sensitive = the document-length
    // band floor(n_chars/100) — a pure map-side function (a global
    // quantile ntile here would force a single-partition sort; fixed
    // bands keep the whole query one distinct-aggregate shuffle).
    // Output: per-group n, distinct sensitive values, pass flag at l≥3.
    "privacy_l_diversity" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), col("source"),
                floor(col("n_chars") / 100).cast("long").as("len_band"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"),
             countDistinct(col("len_band")).as("l_distinct"))
        .select(col("lang"), col("source"), col("n"), col("l_distinct"),
                (col("l_distinct") >= 3).cast("int").as("diverse"))
        .orderBy(col("lang"), col("source")))
  ) ++ Map[String, (SparkSession, String) => DataFrame](

    // t-closeness audit — the third rung of the release-gating ladder
    // (k-anonymity: groups big enough; l-diversity: sensitive values
    // varied enough; t-closeness: the group's sensitive DISTRIBUTION
    // close enough to the global one that membership leaks nothing).
    // For an ordinal sensitive attribute the Earth Mover's Distance is
    // the mean absolute CDF gap: EMD = Σ_i |F_g(i) − F(i)| / (m−1).
    // Kept EXACT until the last step: per band, |cum_g·n − cum_all·n_g|
    // is an integer (≤ ~4e9, fits BIGINT), the t ≤ 0.2 gate compares
    // 5·Σ against n_g·n·(m−1) in integers — no FP in the verdict.
    // Scale shape: two histogram aggregations over raw data, then the
    // CDF grid is |QI-groups|×|bands| rows built from a BROADCAST of
    // the band histogram (value-domain-bounded); the global cum window
    // runs over |bands| rows only.
    // Rendezvous (highest-random-weight) sharding — THE consistent
    // placement primitive for a 100 TB corpus: each key's shard is the
    // argmax over shards of md5(key:shard), computed ENTIRELY map-side
    // (an array HOF over the shard list — zero shuffles before the
    // census), so assignment needs no directory service and no state.
    // The query emits the 8-shard census plus the stability story for
    // growing to 9 shards: HRW guarantees a key moves ONLY if the NEW
    // shard wins it (≈1/9 of keys, each moving TO shard 8) — the
    // minimal-disruption property consistent hashing is chosen for,
    // asserted exactly in LayoutOpsSpec. Ties break to the smallest
    // shard id in both engines (struct max on (w, -s)).
    "shard_rendezvous" -> ((s, dir) => {
      def assign(nShards: Int): Column = {
        val best = array_max(transform(
          sequence(lit(0), lit(nShards - 1)),
          sId => struct(
            conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
              sId.cast("string"))), 1, 8), 16, 10).cast("long").as("w"),
            (-sId).as("ns"))))
        (-best.getField("ns")).cast("long")
      }
      Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("shard8", assign(8))
        .withColumn("shard9", assign(9))
        .groupBy(col("shard8"))
        .agg(count(lit(1)).as("n_docs"),
             sum((col("shard9") =!= col("shard8")).cast("long")).as("n_moved"))
        .select(col("shard8"), col("n_docs"), col("n_moved"),
          round(col("n_moved").cast("double") / col("n_docs"), 6).as("move_frac"))
        .orderBy(col("shard8"))
    }),

    // Consistent-hash RING with virtual nodes — the Dynamo/Cassandra
    // placement dual of shard_rendezvous: keys land on the clockwise
    // successor vnode, V=16 vnodes per shard smooth the arc-length
    // variance that a 1-vnode ring suffers. Growing 8 → 9 shards adds
    // ONLY shard 8's 16 vnodes (vnode positions hash (shard, j) and
    // never re-derive from N — the consistency property), so exactly
    // the keys in the stolen arcs move, ≈ V_new/V_total = 1/9, and
    // every mover lands on shard 8 (LayoutOpsSpec asserts both).
    // Assignment is ENTIRELY map-side: the ring's vnode positions are
    // hashed ONCE on the driver (they are pure literals — the HOF
    // form re-evaluated 144 md5s per row because higher-order
    // functions don't constant-fold; measured 2.3 s → sub-second at
    // sf0.1) and embedded as a literal struct array; per row the work
    // is one key md5 + a 144-element long-compare scan (filter
    // pos ≥ h, struct-min, wrap to global min) — zero shuffles before
    // the |shards|-row census, no directory service, same as
    // rendezvous but with O(V·N) ring state instead of O(N) per-key
    // hashing. The driver-side md5 is bit-identical to the SQL recipe
    // (the oracle recomputes every position with DuckDB's md5).
    "shard_ring_vnodes" -> ((s, dir) => {
      def ringAssign(nShards: Int): Column = {
        val v = 16
        val mdd = java.security.MessageDigest.getInstance("MD5")
        val ring = (0 until nShards * v).map { i =>
          val (sId, j) = (i % nShards, i / nShards)
          val hex = mdd.digest(s"$sId:$j:ring".getBytes("UTF-8"))
            .take(6).map("%02x".format(_)).mkString
          (java.lang.Long.parseLong(hex, 16), sId.toLong)
        }
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 12),
          16, 10).cast("long")
        graft.functions.TextSignatures.ringSuccessor(h, ring)
      }
      Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("shard8", ringAssign(8))
        .withColumn("shard9", ringAssign(9))
        .groupBy(col("shard8"))
        .agg(count(lit(1)).as("n_docs"),
             sum((col("shard9") =!= col("shard8")).cast("long")).as("n_moved"))
        .select(col("shard8"), col("n_docs"), col("n_moved"),
          round(col("n_moved").cast("double") / col("n_docs"), 6).as("move_frac"))
        .orderBy(col("shard8"))
    }),

    // DP median via the EXPONENTIAL MECHANISM (McSherry & Talwar 2007)
    // — the second DP primitive next to privacy_dp_histogram's Laplace
    // counts, needed because medians have unbounded value-sensitivity
    // (you perturb the SELECTION, not the value): each candidate value
    // scores u(v) = −|rank(v) − n/2| (sensitivity 1), and the release
    // is argmax of ε·u/2 + Gumbel — the Gumbel-max trick, which IS the
    // exponential mechanism exactly. Noise is the deterministic
    // seeded-hash recipe (md5 dyadic uniform → inverse CDF), so the
    // release replays identically on both engines and across reruns —
    // the reproducible-release property privacy_dp_histogram
    // established. Scale: candidates are the (type, cents) histogram
    // (value-domain-bounded) after one map-side-combining aggregate;
    // the rank walk and argmax are per-type windows over that
    // histogram, never over rows.
    "privacy_dp_median" -> ((s, dir) => {
      val cum = Tables.events(s, dir)
        .select(col("event_type"),
                floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("event_type")).orderBy(col("c"))))
        .withColumn("n", sum(col("cnt")).over(
          Window.partitionBy(col("event_type"))))
      val pick = cum
        .withColumn("u", greatest(
          conv(substring(md5(concat(col("event_type"), lit(":"),
            col("c").cast("string"), lit(":dpm"))), 1, 12), 16, 10)
            .cast("long").cast("double") / lit(281474976710656.0),
          lit(1e-12)))
        .withColumn("score",
          (-abs(col("cum") * 2 - col("n"))).cast("double") / 4.0 +
          (-log(-log(col("u")))))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("score").desc, col("c"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("c").as("dp_median_c"),
                abs(col("cum") * 2 - col("n")).as("rank_err2"))
      cum.filter(col("cum") * 2 >= col("n"))
        .groupBy(col("event_type"))
        .agg(min(col("c")).as("true_median_c"), max(col("n")).as("n"))
        .join(pick, "event_type")
        .select(col("event_type"), col("n"), col("true_median_c"),
                col("dp_median_c"), col("rank_err2"))
        .orderBy(col("event_type"))
    }),

    // Exponential-mechanism release at a GRID of quantiles (q25/q50/
    // q75) — privacy_dp_median generalized from the single rank n/2 to
    // rank q·n (r9 seed #4): utility u(v) = −|rank(v) − q·n| still has
    // sensitivity 1 per quantile, so each release is an independent
    // ε = 1 exponential mechanism, realized as the same Gumbel-max
    // argmax over the (type, cents) histogram with the seeded 48-bit
    // md5 dyadic uniform (seed string carries the quantile so the
    // three releases draw independent noise). Rank error lands exactly
    // as |100·cum − q·n| (hundredths of a row — integer, no FP rank
    // arithmetic). Scale: identical to dp_median — candidates are the
    // value-domain-bounded histogram after one map-side-combining
    // aggregate; the quantile grid multiplies that bounded table by 3,
    // never the raw rows.
    "privacy_dp_quantiles" -> ((s, dir) => {
      val cum = Tables.events(s, dir)
        .select(col("event_type"),
                floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("event_type")).orderBy(col("c"))))
        .withColumn("n", sum(col("cnt")).over(
          Window.partitionBy(col("event_type"))))
      val grid = cum.withColumn("q_pct",
        explode(array(lit(25L), lit(50L), lit(75L))))
      val pick = grid
        .withColumn("u", greatest(
          conv(substring(md5(concat(col("event_type"), lit(":"),
            col("c").cast("string"), lit(":"), col("q_pct").cast("string"),
            lit(":dpq"))), 1, 12), 16, 10)
            .cast("long").cast("double") / lit(281474976710656.0),
          lit(1e-12)))
        .withColumn("score",
          (-abs(col("cum") * 100 - col("q_pct") * col("n"))).cast("double")
            / 200.0 + (-log(-log(col("u")))))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"), col("q_pct"))
            .orderBy(col("score").desc, col("c"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("q_pct"), col("c").as("dp_q_c"),
                abs(col("cum") * 100 - col("q_pct") * col("n"))
                  .as("rank_err100"))
      grid.filter(col("cum") * 100 >= col("q_pct") * col("n"))
        .groupBy(col("event_type"), col("q_pct"))
        .agg(min(col("c")).as("true_q_c"), max(col("n")).as("n"))
        .join(pick, Seq("event_type", "q_pct"))
        .select(col("event_type"), col("q_pct"), col("n"), col("true_q_c"),
                col("dp_q_c"), col("rank_err100"))
        .orderBy(col("event_type"), col("q_pct"))
    }),

    // Differentially-private histogram release (ε = 1, sensitivity 1 →
    // Laplace b = 1) with DETERMINISTIC noise: u ∈ [0,1) is the
    // md5-prefix dyadic rational (48 bits / 2^48 — an exact double both
    // engines construct identically, the shard_rendezvous recipe) and
    // the Laplace draw is its inverse CDF, X = ln(2u) below the median,
    // −ln(2(1−u)) above. A seeded-hash noise source is the
    // reproducible-release form real DP pipelines use (rerunning the
    // release must not re-randomize the published table); the ε
    // accounting is identical to true randomness — what changes is only
    // WHERE the seed lives. Counts never leave integers: noise lands as
    // floor(X·100 + 0.5) centi-counts added to 100·n. Pure map-side
    // after a |types|-row aggregate.
    "privacy_dp_histogram" -> ((s, dir) => {
      val h = Tables.events(s, dir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("true_n"))
      h.withColumn("u", greatest(
          conv(substring(md5(col("event_type")), 1, 12), 16, 10)
            .cast("long").cast("double") / lit(281474976710656.0),
          lit(1e-12)))
        .withColumn("noise_e2", floor(
          when(col("u") < 0.5, log(col("u") * 2.0))
            .otherwise(-log((lit(1.0) - col("u")) * 2.0)) * 100 + 0.5)
          .cast("long"))
        .select(col("event_type"), col("true_n"), col("noise_e2"),
                (col("true_n") * 100 + col("noise_e2")).as("noisy_n_e2"))
        .orderBy(col("event_type"))
    }),

    // DP TOP-K SELECTION via the exponential mechanism, Gumbel-max
    // form (Durfee & Rogers 2019: adding Gumbel(2Δ/ε) noise to each
    // utility and taking the top k IS one-shot exponential-mechanism
    // top-k): which k sources to NAME (e.g. in a data card) without
    // the release order leaking exact counts — the selection
    // complement of privacy_dp_histogram's noisy counts. Utility =
    // doc count (Δ=1), ε=1, so pert = n/2 − ln(−ln u) with u the
    // deterministic 48-bit md5 dyadic uniform (the dp-family noise
    // recipe — both engines replay the identical draw), e6-quantized
    // before ranking so the released order is an integer comparison.
    // Scale: one |sources|-row aggregate; the rank window runs over
    // that bounded table (PLANS.md census class).
    "privacy_dp_topk" -> ((s, dir) => {
      val h = Tables.documents(s, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("true_n"))
      h.withColumn("u", greatest(
          conv(substring(md5(concat(col("source"), lit(":dptopk"))), 1, 12),
            16, 10).cast("long").cast("double") / lit(281474976710656.0),
          lit(1e-12)))
        .withColumn("pert_e6", floor(
          (col("true_n").cast("double") / 2.0 - log(-log(col("u"))))
            * 1e6 + 0.5).cast("long"))
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("pert_e6"), col("source"))).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("rank"), col("source"), col("pert_e6"))
        .orderBy(col("rank"))
    }),

    // LOCAL DP: binary randomized response (Warner 1965) on the
    // per-event error indicator — each row reports a flipped bit with
    // probability f = 1/4 (md5-seeded, engine-portable), and the daily
    // aggregate debiases: t̂ = (obs − f)/(1 − 2f) ⇒ est_e6 =
    // 2·obs_e6 − 500000, all integer-exact. The collector never sees a
    // true row-level bit — the mechanism every client-side telemetry
    // pipeline runs BEFORE data reaches the lake; the estimate column
    // shows the utility cost next to the true rate. Scale: one scan,
    // map-side flip, ordinary groupBy — the privacy happens per row.
    "privacy_rr_frequency" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"),
                (col("event_type") === "error").cast("int").as("is_err"),
                (conv(substring(md5(concat(col("event_id").cast("string"),
                   lit(":rr"))), 1, 4), 16, 10).cast("long") % 4 === 0)
                  .cast("int").as("flip"))
        .withColumn("reported",
          (col("is_err") =!= col("flip")).cast("int")) // XOR
      ev.groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
             sum(col("is_err")).as("true_n"),
             sum(col("reported")).as("rep_n"))
        .select(col("day"), col("n"),
                expr("true_n * 1000000 div n").as("true_rate_e6"),
                expr("rep_n * 1000000 div n").as("obs_rate_e6"))
        .withColumn("est_rate_e6",
          lit(2L) * col("obs_rate_e6") - lit(500000L))
        .withColumn("abs_err_e6",
          abs(col("est_rate_e6") - col("true_rate_e6")))
        .orderBy(col("day"))
    }),

    // Single-sourced in Graft.tClosenessAudit (generic over QI columns
    // and the t = num/den gate).
    "privacy_t_closeness" -> ((s, dir) =>
      graft.api.Graft.tClosenessAudit(
          Tables.documents(s, dir)
            .select(col("lang"), col("source"),
                    floor(col("n_chars") / 100).cast("long").as("band")),
          Seq("lang", "source"), "band", tNum = 1, tDen = 5)
        .withColumnRenamed("close", "close_02")
        .orderBy(col("lang"), col("source")))
  ) ++ Map[String, (SparkSession, String) => DataFrame](
    // Small-file compaction PLANNING — the OPTIMIZE/bin-packing step
    // every lake table needs (the reference leaves thousands of loose
    // S3 objects exactly this op exists to fix, `aws_bucket.py:160-195`).
    // Documents stand in for the file census (doc_id = file, n_chars =
    // bytes); per source partition, files are packed in id order into
    // 16 KiB target bins by OFFSET BINNING: bin = floor(cum_before / T)
    // — the same virtual-concatenation packing Spark's own
    // FilePartition/maxPartitionBytes planner uses, chosen over
    // first-fit because it is a closed-form window expression (a
    // first-fit recurrence depends on each bin's running fill and
    // cannot be stated declaratively). Every bin's size is bounded by
    // T + (largest file in the bin) − 1 — asserted in WaveFiveOpsSpec.
    // T = 2 KiB keeps multiple bins per source at every test SF; at a
    // real lake T is 128 MiB–1 GiB and the planner is unchanged.
    // Scale shape: the plan runs over FILE METADATA (one row per file,
    // a million rows per PB), one window partitioned by the table
    // partition key; the expensive part — the rewrite — would be a
    // repartition write driven BY this plan, never a driver loop.
    "layout_compaction_plan" -> ((s, dir) =>
      graft.api.Graft.compactionPlan(Tables.documents(s, dir),
          "source", "doc_id", "n_chars", targetBytes = 2048L)
        .withColumnRenamed("first_doc_id", "first_doc")
        .withColumnRenamed("last_doc_id", "last_doc")
        .orderBy(col("source"), col("bin"))),

    // Generalization ladder — the k-anonymity REPAIR step (Samarati's
    // full-domain generalization): walk the quasi-identifier hierarchy
    // (n_chars banded at 10 → 100 → 1000 → fully suppressed, always
    // with lang) coarsest-last and pick the FIRST level whose smallest
    // equivalence class reaches k = 5. Releasing at that level is the
    // minimal information loss consistent with the privacy floor —
    // privacy_k_anonymity AUDITS a release, this op CHOOSES one. Four
    // grouped aggregates over the same scan (each collapses map-side to
    // |lang|×|bands| rows) unioned into a 4-row ladder; the chosen
    // level is a broadcast scalar argmin. Level 3 (full suppression,
    // one global group) guarantees a fixed point, so `chosen` always
    // marks exactly one row.
    // Single-partition-exchange census (r10 verdict #5, the ledger
    // shows 8): every one is a global-aggregate collapse — each
    // level's ladder-rung agg (4× — input already pre-aggregated
    // map-side to ≤ |lang|×|bands| rows), their partials under the
    // union, and the 1-row argmin — never a data-sized exchange.
    "privacy_generalize_ladder" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("lang"), col("n_chars"))
      // r16 (guide §2.4, ledger-mined: 8 file scans): the hierarchy is
      // nested — each coarser rung's equivalence classes are exact
      // unions of the finest rung's (floor(n/100) ≡ floor(floor(n/10)
      // /10) for n ≥ 0, and level 3 is the global sum) — so ONE corpus
      // pass builds the finest band table and every coarser rung
      // re-aggregates it. Before: 4 independent corpus aggregates ×
      // the ladder consumed twice (argmin + release rows) = 8 scans;
      // after: 1 scan. g0 is |lang|×|bands| (the same bounded register
      // class as mv_incremental_hll's pins); ladder is 4 rows. Output
      // row-identical: counts, group censuses and the argmin are
      // arithmetic over the same partitions of the same corpus.
      val g0 = docs.groupBy(col("lang"),
          floor(col("n_chars") / 10L).cast("long").as("band"))
        .agg(count(lit(1)).as("c"))
        .pin(eager = false)
      val g1 = g0.groupBy(col("lang"),
          floor(col("band") / 10L).cast("long").as("band"))
        .agg(sum(col("c")).as("c"))
        .pin(eager = false)
      val g2 = g1.groupBy(col("lang"),
          floor(col("band") / 10L).cast("long").as("band"))
        .agg(sum(col("c")).as("c"))
        .pin(eager = false)
      val g3 = g2.agg(sum(col("c")).as("c"))
      def rung(lvl: Int, width: Long, grouped: DataFrame): DataFrame =
        grouped.agg(lit(lvl.toLong).as("level"), lit(width).as("band_width"),
             count(lit(1)).as("n_groups"), min(col("c")).as("min_group"),
             (min(col("c")) >= 5).cast("long").as("k_ok"))
      val ladder = rung(0, 10L, g0).union(rung(1, 100L, g1))
        .union(rung(2, 1000L, g2)).union(rung(3, 0L, g3))
        .pin(eager = false)
      val minOk = ladder.filter(col("k_ok") === 1)
        .agg(min(col("level")).as("ml"))
      ladder.crossJoin(broadcast(minOk))
        .withColumn("chosen", (col("level") === col("ml")).cast("long"))
        .drop("ml")
        .orderBy(col("level"))
    }),

    // Zone-map pruning simulation — the data-skipping arithmetic every
    // lake format (parquet row groups, Delta/Iceberg file stats) lives
    // on: collect per-partition (day) min/max of the value column,
    // then for a ladder of `value > p` probe predicates count the
    // partitions a scanner could skip outright (max < p). This is the
    // MEASUREMENT behind choosing a partition/cluster key — pair it
    // with layout_zorder_cluster's envelope bound and you have the
    // before/after story for a re-layout. One aggregate to |days|
    // rows; the 5-row threshold ladder cross-joins onto it broadcast;
    // prunable_frac is an exact e6 floor-div rational.
    "layout_zone_map_pruning" -> ((s, dir) => {
      val stats = Tables.events(s, dir)
        .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"))
        .agg(max(floor(col("value") * 100 + 0.5).cast("long")).as("mx"))
      val probes = s.createDataFrame(
          Seq(Tuple1(25000L), Tuple1(30000L), Tuple1(35000L),
              Tuple1(40000L), Tuple1(50000L)))
        .toDF("threshold_cents")
      stats.crossJoin(broadcast(probes))
        .groupBy(col("threshold_cents"))
        .agg(count(lit(1)).as("n_partitions"),
             sum((col("mx") < col("threshold_cents")).cast("long"))
               .as("n_prunable"))
        .withColumn("prunable_frac_e6",
          expr("n_prunable * 1000000 div n_partitions"))
        .orderBy(col("threshold_cents"))
    }),

    // Partition-key skew advisor — the measurement behind "what do we
    // partition/bucket this table by": for each candidate key (day,
    // user bucket %64, event_type) report cardinality, the hottest
    // partition, skew = max·n_parts/total (1e6 = perfectly even), and
    // the salt factor that would even it out (ceil of the skew ratio)
    // — exactly the number j_skew_salted_join needs as its salt count.
    // One aggregate per candidate over the same scan, all-BIGINT; the
    // advisor table is 3 rows. At 100 TB this IS the query you run
    // before committing a layout, on a sample or full pass.
    // JOIN-CARDINALITY estimation advisor — the statistic a 100 TB
    // optimizer needs BEFORE running a join it cannot afford to get
    // wrong: |A⋈B| = Σ_k f_A(k)·f_B(k) on a non-FK skewed join
    // (events.user_id ⋈ orders.o_custkey — only custkeys < |users|
    // match, frequencies are uneven). Three methods side by side:
    // exact (the frequency join itself — affordable here because both
    // sides are REDUCED to per-key counts first, so the join moves
    // |keys| rows, never data rows), the uniformity assumption
    // nA·nB / max(dA, dB) (what a naive optimizer assumes — its error
    // IS the lesson), and a hash-coordinated 1/8 key sample (md5-
    // sampled keys are sampled on BOTH sides by construction, the
    // end-biased-sample fix that makes join sampling work at all;
    // scale-up ×8). All integer arithmetic. The exact pass here is the
    // family's CALIBRATION YARDSTICK (binary case, |keys|-row cost);
    // the deployable statistics-only variant an optimizer consumes at
    // 100 TB is layout_join_card_chain below.
    "layout_join_card_advisor" -> ((s, dir) => {
      // PINNED (r16, guide §2.4, ledger-mined: 12 file scans — the
      // registry's worst): fa/fb each feed perKey AND totals, and the
      // 1-row `agg` feeds THREE method rows below — un-pinned, every
      // union branch replayed the full fact lineage (12 scans → 2).
      // fa/fb are fact-keyed frequency tables → size-guarded; agg is
      // one row.
      val fa = graft.api.Pins.bounded(Tables.events(s, dir)
        .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("fa")))
      val fb = graft.api.Pins.bounded(Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("fb")))
      val perKey = fa.join(fb, "k")
        .select(col("k"), (col("fa") * col("fb")).as("fab"))
        .withColumn("sampled",
          (conv(substring(md5(concat(col("k").cast("string"), lit(":jc"))),
            1, 4), 16, 10).cast("long") % 8 === 0).cast("int"))
      val totals = fa.agg(sum(col("fa")).as("na"),
                          count(lit(1)).as("da"))
        .crossJoin(fb.agg(sum(col("fb")).as("nb"), count(lit(1)).as("db")))
      val agg = perKey.agg(
        sum(col("fab")).as("exact"),
        (sum(col("fab") * col("sampled")) * lit(8L)).as("sampled_est"))
        .crossJoin(broadcast(totals))
        .pin(eager = false)
      agg.select(
          lit("exact").as("method"), col("exact").as("est"), col("exact"))
        .unionByName(agg.select(
          lit("uniform").as("method"),
          expr("na * nb div greatest(da, db)").as("est"), col("exact")))
        .unionByName(agg.select(
          lit("hash_sample_8x").as("method"),
          col("sampled_est").as("est"), col("exact")))
        // greatest(exact, 1): on a degenerate fixture where no key
        // matches (exact = 0) Spark's div yields NULL while DuckDB's
        // // raises — guard the denominator identically in both
        // engines (r12 advice)
        .withColumn("rel_err_e6",
          expr("abs(est - exact) * 1000000 div greatest(exact, 1)"))
        .orderBy(col("method"))
    }),

    // STATISTICS-ONLY 3-way join-cardinality chain (r12 verdict #4):
    // estimate |events ⋈ orders ⋈ lineitem| (user_id→o_custkey,
    // o_orderkey→l_orderkey) WITHOUT ever executing the join — the
    // statistic an optimizer consumes at 100 TB, where the exact pass
    // of layout_join_card_advisor (kept as the labeled calibration
    // yardstick for the binary case) is unaffordable. Three estimators
    // over per-key FREQUENCY TABLES, never data rows:
    //  - freq_histogram: Σ_orders fE(o_custkey)·fL(o_orderkey) — one
    //    pass over the MIDDLE relation joined to the two REDUCED freq
    //    tables (shuffle volume |keys|, exact-by-construction for an
    //    equi chain; the self-calibration of the family).
    //  - mcv_top8_uniform_tail: what a catalog actually persists —
    //    each side keeps its 8 most-common values exactly (ties
    //    key-asc) and models the tail as uniform with the System-R
    //    max-d discipline (avg_e6 = n_tail·1e6 div max(d_tail_build,
    //    d_tail_probe) — the probe side's tail distinct count caps the
    //    per-key expectation, the Postgres eqjoinsel shape; dividing
    //    by the build side alone would hand every absent probe key the
    //    full tail average and overcount ~d_probe/d_build ×). Probes
    //    are two ≤8-row broadcast maps; the residual error vs the
    //    histogram is the method's documented honesty gap.
    //    Contributions quantized e6, identically in both engines.
    //  - uniform: System-R containment composed across the chain —
    //    nE·nO div max(dE,dOc), then ·nL div max(dOk,dLk); its error
    //    vs the histogram is the lesson.
    // All BIGINT; at true 100 TB the Σf·f sums move to DECIMAL(38),
    // same shape.
    "layout_join_card_chain" -> ((s, dir) => {
      // lineage pins: each frequency table feeds 3-4 consumers (MCV,
      // stats, histogram pass) — un-pinned, every consumer re-scans
      // and re-aggregates the fact table. r16: size-guarded like the
      // VERDICT r15 #2 trio — `ord` is the whole orders projection and
      // fe/fl are fact-keyed frequency tables, so at corpus scale the
      // pruned re-scans are kept instead of non-replicated pins.
      val fe = graft.api.Pins.bounded(Tables.events(s, dir)
        .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("f")))
      val fl = graft.api.Pins.bounded(Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("f")))
      val ord = graft.api.Pins.bounded(
        Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey")))
      def stats(ft: DataFrame): DataFrame =
        ft.agg(sum(col("f")).as("n"), count(lit(1)).as("d"))
      // tail average per System-R max-d: n_tail / max(d_tail_build,
      // d_tail_probe), probe tail = the middle relation's distinct
      // keys minus its MCV hits (approximated as md — the ≤8 MCVs)
      def tail(st: DataFrame, m: DataFrame, probeD: DataFrame): DataFrame =
        st.crossJoin(m.agg(
            coalesce(sum(col("f")), lit(0L)).as("mn"),
            count(lit(1)).as("md")))
          .crossJoin(probeD)
          .select((col("n") - col("mn")).as("n_tail"),
                  (col("d") - col("md")).as("d_tail"),
                  (col("pd") - col("md")).as("d_tail_probe"))
          .select(expr(
            "n_tail * 1000000 div greatest(greatest(d_tail, d_tail_probe), 1)")
            .as("avg_e6"))
      val (me, ml) = (mcv8(fe), mcv8(fl))
      val (se, sl) = (stats(fe), stats(fl))
      // ONE orders-stats aggregate feeds both the uniform estimator
      // (n/dc/dk) and the two probe-side tail denominators; pinned so
      // the two countDistincts run once (r13 self-review — was two
      // separate aggs recomputing the same distincts)
      val so = ord.agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("dc"),
          countDistinct(col("o_orderkey")).as("dk"))
        .pin(eager = false)
      // pinned: consumed by its method row AND the rel_err denominator
      val hist = ord
        .join(fe.select(col("k").as("ek"), col("f").as("fe")),
              col("o_custkey") === col("ek"))
        .join(fl.select(col("k").as("lk"), col("f").as("fl")),
              col("o_orderkey") === col("lk"))
        .agg(coalesce(sum(col("fe") * col("fl")), lit(0L)).as("est"))
        .pin(eager = false)
      val mcvEst = ord
        .join(broadcast(me.select(col("k").as("ek"), col("f").as("fe"))),
              col("o_custkey") === col("ek"), "left")
        .join(broadcast(ml.select(col("k").as("lk"), col("f").as("fl"))),
              col("o_orderkey") === col("lk"), "left")
        .crossJoin(broadcast(tail(se, me, so.select(col("dc").as("pd")))
          .select(col("avg_e6").as("ave"))))
        .crossJoin(broadcast(tail(sl, ml, so.select(col("dk").as("pd")))
          .select(col("avg_e6").as("avl"))))
        .select(expr(
          "(coalesce(fe * 1000000, ave) * coalesce(fl * 1000000, avl))" +
          " div 1000000").as("c_e6"))
        .agg(expr("coalesce(sum(c_e6), 0) div 1000000").as("est"))
      val uni = se.select(col("n").as("ne"), col("d").as("de"))
        .crossJoin(so)
        .crossJoin(sl.select(col("n").as("nl"), col("d").as("dl")))
        .select(expr(
          "(ne * n div greatest(greatest(de, dc), 1)) * nl" +
          " div greatest(greatest(dk, dl), 1)").as("est"))
      val rows = hist.select(lit("freq_histogram").as("method"), col("est"))
        .unionByName(mcvEst.select(
          lit("mcv_top8_uniform_tail").as("method"), col("est")))
        .unionByName(uni.select(lit("uniform").as("method"), col("est")))
      rows.crossJoin(broadcast(hist.select(col("est").as("hist_est"))))
        .withColumn("rel_err_vs_hist_e6",
          expr("abs(est - hist_est) * 1000000 div greatest(hist_est, 1)"))
        .drop("hist_est")
        .orderBy(col("method"))
    }),

    // PERSISTED catalog statistics consumed for estimation (r13 seed):
    // the MCV+totals snapshot is written once (statsSnapshotDir) and
    // the estimator reads ONLY the snapshot + the middle relation —
    // the production shape where ANALYZE runs at ingest time and every
    // later plan consults the stored statistics without touching the
    // fact tables. The estimate is ARITHMETICALLY IDENTICAL to
    // layout_join_card_chain's mcv_top8_uniform_tail row (same stats,
    // same max-d tail, e6 quantization — pinned in Round13Spec); what
    // this query adds is the persistence round-trip. Oracle replays
    // the statistics closed-form (snapshot content is dir-dependent).
    "layout_stats_snapshot_estimate" -> ((s, dir) => {
      val snap = s.read.parquet(statsSnapshotDir(s, dir))
        .pin(eager = false)
      def mcvOf(side: String, kc: String, fc: String) =
        snap.filter(col("side") === side && col("kind") === "mcv")
          .select(col("k").as(kc), col("f").as(fc))
      def totOf(side: String, nc: String, dc: String) =
        snap.filter(col("side") === side && col("kind") === "tot")
          .select(col("n").as(nc), col("d").as(dc))
      val (me, ml) = (mcvOf("events_user", "ek", "fe"),
                      mcvOf("lineitem_ok", "lk", "fl"))
      val ord = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"))
      val soD = ord.agg(countDistinct(col("o_custkey")).as("pdc"),
                        countDistinct(col("o_orderkey")).as("pdk"))
      def tailAvg(tot: DataFrame, m: DataFrame, probeD: DataFrame,
          alias: String) =
        tot.crossJoin(m.agg(coalesce(sum(m.columns.map(col).last), lit(0L))
            .as("mn"), count(lit(1)).as("md")))
          .crossJoin(probeD)
          .select(expr(
            s"(n - mn) * 1000000 div greatest(greatest(d - md, pd - md), 1)")
            .as(alias))
      val ave = tailAvg(totOf("events_user", "n", "d"), me,
        soD.select(col("pdc").as("pd")), "ave")
      val avl = tailAvg(totOf("lineitem_ok", "n", "d"), ml,
        soD.select(col("pdk").as("pd")), "avl")
      val est = ord
        .join(broadcast(me), col("o_custkey") === col("ek"), "left")
        .join(broadcast(ml), col("o_orderkey") === col("lk"), "left")
        .crossJoin(broadcast(ave)).crossJoin(broadcast(avl))
        .select(expr(
          "(coalesce(fe * 1000000, ave) * coalesce(fl * 1000000, avl))" +
          " div 1000000").as("c_e6"))
        .agg(expr("coalesce(sum(c_e6), 0) div 1000000").as("est"))
      est.crossJoin(broadcast(totOf("events_user", "n_events", "d_events")))
        .crossJoin(broadcast(
          totOf("lineitem_ok", "n_lineitem", "d_lineitem")))
        .select(col("est"), col("n_events"), col("d_events"),
                col("n_lineitem"), col("d_lineitem"))
    }),

    // STATS-SNAPSHOT STALENESS GATE (r13 verdict #5 — the missing half
    // of the ANALYZE-at-ingest story: stale statistics are how 100 TB
    // plans go wrong): diff the LIVE per-key statistics against the
    // PERSISTED prior-run snapshot (statsPriorSnapshotDir — the same
    // snapshotFixtureDir lifecycle as dq_profile_drift's memory) with
    // integer e6 gates and emit a re-ANALYZE flag per side. The prior
    // snapshot profiled events BEFORE its latest ~1/8 md5-sampled
    // batch, so the events side genuinely drifted (~+14% row mass —
    // flag 1) while lineitem is byte-identical (flag 0) — both gate
    // branches exercised. Gates: row-mass drift > 5%, any persisted
    // MCV key out of the live top-8, or any persisted MCV frequency
    // off by > 10%. Drift magnitudes go through abs() BEFORE the
    // integer division in both engines (negative-numerator div///
    // diverges — the link_survivorship floor lesson). Cost: ONE
    // frequency aggregate per live side (the pinned table feeds
    // totals, the top-8, and the two ≤8-row MCV probes) + an O(rows)
    // snapshot read; nothing per-pair, nothing quadratic.
    "layout_stats_staleness" -> ((s, dir) => {
      val snap = s.read.parquet(statsPriorSnapshotDir(s, dir))
        .pin(eager = false)
      stalenessSide(snap, "events_user",
          freqTable(Tables.events(s, dir), "user_id"))
        .unionByName(stalenessSide(snap, "lineitem_ok",
          freqTable(Tables.lineitem(s, dir), "l_orderkey")))
        .orderBy(col("side"))
    }),

    // THE SAME GATE, SECOND TABLE FAMILY (r14 verdict #3): live
    // documents at the (source, lang) STRING grain diffed against the
    // docStatsPriorSnapshotDir artifact (prior profiled before the
    // latest ~1/8 ingest batch — genuinely drifted, flag 1) and live
    // embeddings at the label grain against a byte-identical prior
    // (flag 0) — both gate branches exercised on keys the
    // events/lineitem pair never covered. One shared stalenessSide
    // report proves the machinery generalizes instead of re-deriving
    // it per family.
    "layout_stats_staleness_docs" -> ((s, dir) => {
      val snap = s.read.parquet(docStatsPriorSnapshotDir(s, dir))
        .pin(eager = false)
      stalenessSide(snap, "documents_srclang",
          freqTable(Tables.documents(s, dir)
            .withColumn("src_lang",
              concat(col("source"), lit("|"), col("lang"))), "src_lang"))
        .unionByName(stalenessSide(snap, "embeddings_label",
          freqTable(Tables.embeddings(s, dir)
            .withColumn("lbl", col("label").cast("string")), "lbl")))
        .orderBy(col("side"))
    }),

    "layout_partition_skew_advisor" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def profile(name: String, key: Column): DataFrame =
        ev.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
          .agg(lit(name).as("candidate_key"),
               count(lit(1)).as("n_parts"),
               sum(col("c")).as("n_rows"),
               max(col("c")).as("max_rows"))
          .withColumn("skew_e6", expr("max_rows * n_parts * 1000000 div n_rows"))
          .withColumn("salt_factor",
            expr("(max_rows * n_parts + n_rows - 1) div n_rows"))
      profile("day", date_trunc("DAY", col("ts")).cast("date"))
        .union(profile("user_bucket_64", col("user_id") % 64))
        .union(profile("event_type", col("event_type")))
        .orderBy(col("candidate_key"))
    }),

    // Bloom-filter sizing advisor — the table a writer consults before
    // attaching per-file/per-partition bloom indexes (Parquet
    // bloom_filter_enabled, Delta BLOOMFILTER INDEX): for each
    // partition candidate, exact distinct-key counts and the standard
    // optimal-parameter formulas m = ceil(n·ln(1/p)/ln²2),
    // k = round((m/n)·ln2), evaluated at two target fpp levels. All
    // arithmetic is BIGINT on pre-quantized e6 constants
    // (ln(100)/ln²2·1e6 = 9585058, ln(1000)/ln²2·1e6 = 14377588,
    // ln2·1e6 = 693147 — literals shared verbatim with the oracle, so
    // no transcendental evaluation happens in either engine). Scale:
    // one distinct-aggregate per candidate key (map-side partial on
    // (type, user) before the only shuffle) crossed with a 2-row
    // constant — the advisor output is |candidates|×|fpp| rows.
    "layout_bloom_advisor" -> ((s, dir) => {
      val n = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_keys"))
      Seq(10000L -> 9585058L, 1000L -> 14377588L)
        .map { case (fppE6, bpkE6) =>
          n.withColumn("fpp_e6", lit(fppE6)).withColumn("bpk_e6", lit(bpkE6)) }
        .reduce(_.union(_))
        .withColumn("m_bits", expr("(n_keys * bpk_e6 + 999999) div 1000000"))
        .withColumn("k_hashes",
          expr("(m_bits * 693147 + n_keys * 500000) div (n_keys * 1000000)"))
        .withColumn("m_bytes", expr("(m_bits + 7) div 8"))
        .select(col("event_type"), col("fpp_e6"), col("n_keys"),
                col("m_bits"), col("k_hashes"), col("m_bytes"))
        .orderBy(col("event_type"), col("fpp_e6"))
    })
  )

  def oracles: Map[String, String] = Map(
    "privacy_dp_median" ->
      """WITH ev AS (SELECT event_type,
        |    floor(value * 100 + 0.5)::BIGINT AS c FROM events),
        |h AS (SELECT event_type, c, count(*)::BIGINT AS cnt
        |  FROM ev GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n FROM h),
        |sc AS (SELECT event_type, c, cum, n,
        |    -abs(cum * 2 - n)::DOUBLE / 4.0 + (-ln(-ln(greatest(
        |      ('0x' || substr(md5(event_type || ':' || c::VARCHAR
        |        || ':dpm'), 1, 12))::BIGINT::DOUBLE / 281474976710656.0,
        |      1e-12)))) AS score
        |  FROM cum),
        |pick AS (SELECT event_type, c AS dp_median_c,
        |    abs(cum * 2 - n)::BIGINT AS rank_err2,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY score DESC, c) AS rn FROM sc),
        |med AS (SELECT event_type, min(c)::BIGINT AS true_median_c,
        |    max(n)::BIGINT AS n
        |  FROM cum WHERE cum * 2 >= n GROUP BY event_type)
        |SELECT m.event_type, m.n, m.true_median_c, p.dp_median_c,
        |  p.rank_err2
        |FROM med m JOIN (SELECT * FROM pick WHERE rn = 1) p
        |  USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "privacy_dp_quantiles" ->
      """WITH ev AS (SELECT event_type,
        |    floor(value * 100 + 0.5)::BIGINT AS c FROM events),
        |h AS (SELECT event_type, c, count(*)::BIGINT AS cnt
        |  FROM ev GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n FROM h),
        |grid AS (SELECT cum.*, qq.q_pct FROM cum
        |  CROSS JOIN (VALUES (25::BIGINT), (50::BIGINT), (75::BIGINT))
        |    AS qq(q_pct)),
        |sc AS (SELECT event_type, q_pct, c, cum, n,
        |    -abs(cum * 100 - q_pct * n)::DOUBLE / 200.0 + (-ln(-ln(greatest(
        |      ('0x' || substr(md5(event_type || ':' || c::VARCHAR || ':'
        |        || q_pct::VARCHAR || ':dpq'), 1, 12))::BIGINT::DOUBLE
        |        / 281474976710656.0,
        |      1e-12)))) AS score
        |  FROM grid),
        |pick AS (SELECT event_type, q_pct, c AS dp_q_c,
        |    abs(cum * 100 - q_pct * n)::BIGINT AS rank_err100,
        |    row_number() OVER (PARTITION BY event_type, q_pct
        |      ORDER BY score DESC, c) AS rn FROM sc),
        |tru AS (SELECT event_type, q_pct, min(c)::BIGINT AS true_q_c,
        |    max(n)::BIGINT AS n
        |  FROM grid WHERE cum * 100 >= q_pct * n GROUP BY event_type, q_pct)
        |SELECT t.event_type, t.q_pct, t.n, t.true_q_c, p.dp_q_c,
        |  p.rank_err100
        |FROM tru t JOIN (SELECT * FROM pick WHERE rn = 1) p
        |  USING (event_type, q_pct)
        |ORDER BY event_type, q_pct""".stripMargin,

    "privacy_dp_histogram" ->
      """WITH h AS (SELECT event_type, count(*)::BIGINT AS true_n
        |  FROM events GROUP BY event_type),
        |uu AS (SELECT event_type, true_n,
        |    greatest((('0x' || substr(md5(event_type), 1, 12))::BIGINT)::DOUBLE
        |      / 281474976710656.0, 1e-12) AS u FROM h),
        |n AS (SELECT event_type, true_n,
        |    floor((CASE WHEN u < 0.5 THEN ln(2 * u)
        |                ELSE -ln(2 * (1 - u)) END) * 100 + 0.5)::BIGINT
        |      AS noise_e2 FROM uu)
        |SELECT event_type, true_n, noise_e2,
        |  (true_n * 100 + noise_e2)::BIGINT AS noisy_n_e2
        |FROM n ORDER BY event_type""".stripMargin,
    "privacy_dp_topk" ->
      """WITH h AS (SELECT source, count(*)::BIGINT AS true_n
        |  FROM documents GROUP BY source),
        |uu AS (SELECT source, true_n,
        |    greatest((('0x' || substr(md5(source || ':dptopk'), 1, 12))
        |      ::BIGINT)::DOUBLE / 281474976710656.0, 1e-12) AS u FROM h),
        |p AS (SELECT source,
        |    floor((true_n::DOUBLE / 2.0 - ln(-ln(u))) * 1e6 + 0.5)::BIGINT
        |      AS pert_e6 FROM uu),
        |r AS (SELECT source, pert_e6, row_number() OVER (
        |    ORDER BY pert_e6 DESC, source) AS rank FROM p)
        |SELECT rank::BIGINT AS rank, source, pert_e6
        |FROM r WHERE rank <= 3 ORDER BY rank""".stripMargin,

    "layout_join_card_advisor" ->
      """WITH fa AS (SELECT user_id AS k, count(*) AS fa FROM events GROUP BY 1),
        |fb AS (SELECT o_custkey AS k, count(*) AS fb FROM orders GROUP BY 1),
        |pk AS (
        |  SELECT fa.k, fa * fb AS fab,
        |    (('0x' || substr(md5(fa.k::VARCHAR || ':jc'), 1, 4))::BIGINT % 8 = 0)::INT
        |      AS sampled
        |  FROM fa JOIN fb ON fa.k = fb.k),
        |tot AS (
        |  SELECT (SELECT sum(fa) FROM fa) AS na, (SELECT count(*) FROM fa) AS da,
        |         (SELECT sum(fb) FROM fb) AS nb, (SELECT count(*) FROM fb) AS db),
        |ag AS (
        |  SELECT sum(fab)::BIGINT AS exact,
        |         (sum(fab * sampled) * 8)::BIGINT AS sampled_est
        |  FROM pk),
        |m AS (
        |  SELECT 'exact' AS method, exact AS est, exact FROM ag
        |  UNION ALL
        |  SELECT 'uniform', (na * nb // greatest(da, db))::BIGINT, exact
        |  FROM ag, tot
        |  UNION ALL
        |  SELECT 'hash_sample_8x', sampled_est, exact FROM ag)
        |SELECT method, est, exact,
        |       (abs(est - exact) * 1000000 // greatest(exact, 1))::BIGINT
        |         AS rel_err_e6
        |FROM m ORDER BY method""".stripMargin,

    // the statistics replayed closed-form; est ≡ the chain oracle's
    // mcv branch with snapshot-provenance totals alongside
    "layout_stats_snapshot_estimate" ->
      """WITH fe AS (SELECT user_id AS k, count(*)::BIGINT AS f
        |  FROM events GROUP BY 1),
        |fl AS (SELECT l_orderkey AS k, count(*)::BIGINT AS f
        |  FROM lineitem GROUP BY 1),
        |ord AS (SELECT o_custkey, o_orderkey FROM orders),
        |se AS (SELECT sum(f)::BIGINT AS n, count(*)::BIGINT AS d FROM fe),
        |sl AS (SELECT sum(f)::BIGINT AS n, count(*)::BIGINT AS d FROM fl),
        |mcve AS (SELECT k, f FROM (
        |    SELECT k, f, row_number() OVER (ORDER BY f DESC, k) AS rn FROM fe)
        |  WHERE rn <= 8),
        |mcvl AS (SELECT k, f FROM (
        |    SELECT k, f, row_number() OVER (ORDER BY f DESC, k) AS rn FROM fl)
        |  WHERE rn <= 8),
        |sod AS (SELECT count(DISTINCT o_custkey)::BIGINT AS pdc,
        |               count(DISTINCT o_orderkey)::BIGINT AS pdk FROM ord),
        |ave AS (SELECT ((se.n - coalesce((SELECT sum(f) FROM mcve), 0)) * 1000000
        |          // greatest(greatest(
        |               se.d - (SELECT count(*) FROM mcve),
        |               sod.pdc - (SELECT count(*) FROM mcve)), 1))::BIGINT
        |          AS ave FROM se, sod),
        |avl AS (SELECT ((sl.n - coalesce((SELECT sum(f) FROM mcvl), 0)) * 1000000
        |          // greatest(greatest(
        |               sl.d - (SELECT count(*) FROM mcvl),
        |               sod.pdk - (SELECT count(*) FROM mcvl)), 1))::BIGINT
        |          AS avl FROM sl, sod),
        |mcv_est AS (
        |  SELECT (coalesce(sum(
        |      (coalesce(me.f * 1000000, ave) * coalesce(ml.f * 1000000, avl))
        |        // 1000000), 0) // 1000000)::BIGINT AS est
        |  FROM ord LEFT JOIN mcve me ON me.k = o_custkey
        |           LEFT JOIN mcvl ml ON ml.k = o_orderkey
        |           CROSS JOIN ave CROSS JOIN avl)
        |SELECT est, se.n AS n_events, se.d AS d_events,
        |       sl.n AS n_lineitem, sl.d AS d_lineitem
        |FROM mcv_est, se, sl""".stripMargin,

    // prior statistics replayed closed-form from the subset feed (the
    // snapshot CONTENT is dir-dependent — the dq_profile_drift oracle
    // discipline); live statistics from the full tables; identical
    // top-8 tie-break (f DESC, k) and abs-before-div drift math
    "layout_stats_staleness" ->
      """WITH pe AS (SELECT user_id FROM events
        |  WHERE ('0x' || substr(md5(event_id::VARCHAR || ':st'), 1, 4))::BIGINT
        |        % 8 <> 0),
        |fe_p AS (SELECT user_id AS k, count(*)::BIGINT AS f FROM pe GROUP BY 1),
        |fe_l AS (SELECT user_id AS k, count(*)::BIGINT AS f
        |  FROM events GROUP BY 1),
        |fl AS (SELECT l_orderkey AS k, count(*)::BIGINT AS f
        |  FROM lineitem GROUP BY 1),
        |ep_tot AS (SELECT sum(f)::BIGINT AS n_snap, count(*)::BIGINT AS d_snap
        |  FROM fe_p),
        |el_tot AS (SELECT sum(f)::BIGINT AS n_live, count(*)::BIGINT AS d_live
        |  FROM fe_l),
        |l_tot AS (SELECT sum(f)::BIGINT AS n, count(*)::BIGINT AS d FROM fl),
        |ep_mcv AS (SELECT k, f AS f_snap FROM (
        |    SELECT k, f, row_number() OVER (ORDER BY f DESC, k) AS rn FROM fe_p)
        |  WHERE rn <= 8),
        |el_mcv AS (SELECT k FROM (
        |    SELECT k, row_number() OVER (ORDER BY f DESC, k) AS rn FROM fe_l)
        |  WHERE rn <= 8),
        |l_mcv AS (SELECT k, f FROM (
        |    SELECT k, f, row_number() OVER (ORDER BY f DESC, k) AS rn FROM fl)
        |  WHERE rn <= 8),
        |e_overlap AS (SELECT count(*)::BIGINT AS mcv_overlap FROM ep_mcv
        |  WHERE k IN (SELECT k FROM el_mcv)),
        |e_drift AS (SELECT coalesce(max(
        |    abs(f - f_snap) * 1000000 // greatest(f_snap, 1)), 0)::BIGINT
        |    AS max_mcv_f_drift_e6
        |  FROM fe_l JOIN ep_mcv USING (k)),
        |-- lineitem's prior snapshot IS its live table (the staleness
        |-- fixture drifts only events), so snapshot-vs-live MCV overlap
        |-- reduces to the list size — spelled plainly rather than as a
        |-- self-comparison that could never detect churn (r14
        |-- self-review)
        |l_overlap AS (SELECT count(*)::BIGINT AS mcv_overlap FROM l_mcv),
        |l_drift AS (SELECT coalesce(max(
        |    abs(fl.f - l_mcv.f) * 1000000 // greatest(l_mcv.f, 1)), 0)::BIGINT
        |    AS max_mcv_f_drift_e6
        |  FROM fl JOIN l_mcv USING (k)),
        |rows_ AS (
        |  SELECT 'events_user' AS side, n_snap, n_live, d_snap, d_live,
        |         mcv_overlap, max_mcv_f_drift_e6
        |  FROM ep_tot, el_tot, e_overlap, e_drift
        |  UNION ALL
        |  SELECT 'lineitem_ok', l_tot.n, l_tot.n, l_tot.d, l_tot.d,
        |         mcv_overlap, max_mcv_f_drift_e6
        |  FROM l_tot, l_overlap, l_drift)
        |SELECT side, n_snap, n_live, d_snap, d_live, mcv_overlap,
        |       max_mcv_f_drift_e6,
        |       (abs(n_live - n_snap) * 1000000 // greatest(n_snap, 1))::BIGINT
        |         AS drift_n_e6,
        |       (abs(d_live - d_snap) * 1000000 // greatest(d_snap, 1))::BIGINT
        |         AS drift_d_e6,
        |       ((abs(n_live - n_snap) * 1000000 // greatest(n_snap, 1)) > 50000
        |        OR mcv_overlap < 8
        |        OR max_mcv_f_drift_e6 > 100000)::INT AS reanalyze
        |FROM rows_ ORDER BY side""".stripMargin,

    // second family, same replay discipline: documents' prior
    // statistics closed-form from the ~7/8 subset feed at the
    // (source, lang) string grain; embeddings' prior IS its live
    // table (the stable branch, spelled plainly like lineitem's)
    "layout_stats_staleness_docs" ->
      """WITH pd AS (SELECT source || '|' || lang AS k FROM documents
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':std'), 1, 4))::BIGINT
        |        % 8 <> 0),
        |fd_p AS (SELECT k, count(*)::BIGINT AS f FROM pd GROUP BY 1),
        |fd_l AS (SELECT source || '|' || lang AS k, count(*)::BIGINT AS f
        |  FROM documents GROUP BY 1),
        |fb AS (SELECT label::VARCHAR AS k, count(*)::BIGINT AS f
        |  FROM embeddings GROUP BY 1),
        |dp_tot AS (SELECT sum(f)::BIGINT AS n_snap, count(*)::BIGINT AS d_snap
        |  FROM fd_p),
        |dl_tot AS (SELECT sum(f)::BIGINT AS n_live, count(*)::BIGINT AS d_live
        |  FROM fd_l),
        |b_tot AS (SELECT sum(f)::BIGINT AS n, count(*)::BIGINT AS d FROM fb),
        |dp_mcv AS (SELECT k, f AS f_snap FROM (
        |    SELECT k, f, row_number() OVER (ORDER BY f DESC, k) AS rn FROM fd_p)
        |  WHERE rn <= 8),
        |dl_mcv AS (SELECT k FROM (
        |    SELECT k, row_number() OVER (ORDER BY f DESC, k) AS rn FROM fd_l)
        |  WHERE rn <= 8),
        |b_mcv AS (SELECT k, f FROM (
        |    SELECT k, f, row_number() OVER (ORDER BY f DESC, k) AS rn FROM fb)
        |  WHERE rn <= 8),
        |d_overlap AS (SELECT count(*)::BIGINT AS mcv_overlap FROM dp_mcv
        |  WHERE k IN (SELECT k FROM dl_mcv)),
        |d_drift AS (SELECT coalesce(max(
        |    abs(f - f_snap) * 1000000 // greatest(f_snap, 1)), 0)::BIGINT
        |    AS max_mcv_f_drift_e6
        |  FROM fd_l JOIN dp_mcv USING (k)),
        |b_overlap AS (SELECT count(*)::BIGINT AS mcv_overlap FROM b_mcv),
        |b_drift AS (SELECT coalesce(max(
        |    abs(fb.f - b_mcv.f) * 1000000 // greatest(b_mcv.f, 1)), 0)::BIGINT
        |    AS max_mcv_f_drift_e6
        |  FROM fb JOIN b_mcv USING (k)),
        |rows_ AS (
        |  SELECT 'documents_srclang' AS side, n_snap, n_live, d_snap, d_live,
        |         mcv_overlap, max_mcv_f_drift_e6
        |  FROM dp_tot, dl_tot, d_overlap, d_drift
        |  UNION ALL
        |  SELECT 'embeddings_label', b_tot.n, b_tot.n, b_tot.d, b_tot.d,
        |         mcv_overlap, max_mcv_f_drift_e6
        |  FROM b_tot, b_overlap, b_drift)
        |SELECT side, n_snap, n_live, d_snap, d_live, mcv_overlap,
        |       max_mcv_f_drift_e6,
        |       (abs(n_live - n_snap) * 1000000 // greatest(n_snap, 1))::BIGINT
        |         AS drift_n_e6,
        |       (abs(d_live - d_snap) * 1000000 // greatest(d_snap, 1))::BIGINT
        |         AS drift_d_e6,
        |       ((abs(n_live - n_snap) * 1000000 // greatest(n_snap, 1)) > 50000
        |        OR mcv_overlap < 8
        |        OR max_mcv_f_drift_e6 > 100000)::INT AS reanalyze
        |FROM rows_ ORDER BY side""".stripMargin,

    "layout_join_card_chain" ->
      """WITH fe AS (SELECT user_id AS k, count(*)::BIGINT AS f
        |  FROM events GROUP BY 1),
        |fl AS (SELECT l_orderkey AS k, count(*)::BIGINT AS f
        |  FROM lineitem GROUP BY 1),
        |ord AS (SELECT o_custkey, o_orderkey FROM orders),
        |hist AS (
        |  SELECT coalesce(sum(fe.f * fl.f), 0)::BIGINT AS est
        |  FROM ord JOIN fe ON fe.k = o_custkey
        |           JOIN fl ON fl.k = o_orderkey),
        |se AS (SELECT sum(f)::BIGINT AS n, count(*)::BIGINT AS d FROM fe),
        |sl AS (SELECT sum(f)::BIGINT AS n, count(*)::BIGINT AS d FROM fl),
        |mcve AS (SELECT k, f FROM (
        |    SELECT k, f, row_number() OVER (ORDER BY f DESC, k) AS rn FROM fe)
        |  WHERE rn <= 8),
        |mcvl AS (SELECT k, f FROM (
        |    SELECT k, f, row_number() OVER (ORDER BY f DESC, k) AS rn FROM fl)
        |  WHERE rn <= 8),
        |sod AS (SELECT count(DISTINCT o_custkey)::BIGINT AS pdc,
        |               count(DISTINCT o_orderkey)::BIGINT AS pdk FROM ord),
        |ave AS (SELECT ((se.n - coalesce((SELECT sum(f) FROM mcve), 0)) * 1000000
        |          // greatest(greatest(
        |               se.d - (SELECT count(*) FROM mcve),
        |               sod.pdc - (SELECT count(*) FROM mcve)), 1))::BIGINT
        |          AS ave FROM se, sod),
        |avl AS (SELECT ((sl.n - coalesce((SELECT sum(f) FROM mcvl), 0)) * 1000000
        |          // greatest(greatest(
        |               sl.d - (SELECT count(*) FROM mcvl),
        |               sod.pdk - (SELECT count(*) FROM mcvl)), 1))::BIGINT
        |          AS avl FROM sl, sod),
        |mcv_est AS (
        |  SELECT (coalesce(sum(
        |      (coalesce(me.f * 1000000, ave) * coalesce(ml.f * 1000000, avl))
        |        // 1000000), 0) // 1000000)::BIGINT AS est
        |  FROM ord LEFT JOIN mcve me ON me.k = o_custkey
        |           LEFT JOIN mcvl ml ON ml.k = o_orderkey
        |           CROSS JOIN ave CROSS JOIN avl),
        |so AS (SELECT count(*)::BIGINT AS n,
        |              count(DISTINCT o_custkey)::BIGINT AS dc,
        |              count(DISTINCT o_orderkey)::BIGINT AS dk FROM ord),
        |uni AS (
        |  SELECT ((se.n * so.n // greatest(greatest(se.d, so.dc), 1)) * sl.n
        |          // greatest(greatest(so.dk, sl.d), 1))::BIGINT AS est
        |  FROM se, so, sl),
        |m AS (
        |  SELECT 'freq_histogram' AS method, est FROM hist
        |  UNION ALL SELECT 'mcv_top8_uniform_tail', est FROM mcv_est
        |  UNION ALL SELECT 'uniform', est FROM uni)
        |SELECT method, m.est AS est,
        |       (abs(m.est - hist.est) * 1000000 // greatest(hist.est, 1))::BIGINT
        |         AS rel_err_vs_hist_e6
        |FROM m CROSS JOIN hist ORDER BY method""".stripMargin,

    "privacy_rr_frequency" ->
      """WITH ev AS (
        |  SELECT ts::DATE AS day,
        |         (event_type = 'error')::INT AS is_err,
        |         (('0x' || substr(md5(event_id::VARCHAR || ':rr'), 1, 4))::BIGINT
        |            % 4 = 0)::INT AS flip
        |  FROM events),
        |r AS (SELECT day, is_err,
        |        (is_err <> flip)::INT AS reported FROM ev),
        |g AS (SELECT day, count(*) AS n,
        |        sum(is_err)::BIGINT AS true_n,
        |        sum(reported)::BIGINT AS rep_n
        |      FROM r GROUP BY day),
        |rates AS (SELECT day, n,
        |        (true_n * 1000000 // n)::BIGINT AS true_rate_e6,
        |        (rep_n * 1000000 // n)::BIGINT AS obs_rate_e6 FROM g)
        |SELECT day, n, true_rate_e6, obs_rate_e6,
        |       (2 * obs_rate_e6 - 500000)::BIGINT AS est_rate_e6,
        |       abs(2 * obs_rate_e6 - 500000 - true_rate_e6)::BIGINT AS abs_err_e6
        |FROM rates ORDER BY day""".stripMargin,

    // bloom sizing: shared e6 literal constants, pure integer formulas
    "layout_bloom_advisor" ->
      """WITH n AS (SELECT event_type,
        |    count(DISTINCT user_id)::BIGINT AS n_keys
        |  FROM events GROUP BY 1),
        |f AS (SELECT 10000::BIGINT AS fpp_e6, 9585058::BIGINT AS bpk_e6
        |  UNION ALL SELECT 1000, 14377588),
        |b AS (SELECT event_type, fpp_e6, n_keys,
        |    ((n_keys * bpk_e6 + 999999) // 1000000)::BIGINT AS m_bits
        |  FROM n CROSS JOIN f)
        |SELECT event_type, fpp_e6, n_keys, m_bits,
        |  ((m_bits * 693147 + n_keys * 500000) // (n_keys * 1000000))::BIGINT
        |    AS k_hashes,
        |  ((m_bits + 7) // 8)::BIGINT AS m_bytes
        |FROM b ORDER BY event_type, fpp_e6""".stripMargin,

    "layout_partition_skew_advisor" ->
      """WITH c1 AS (SELECT ts::DATE AS k, count(*)::BIGINT AS c
        |  FROM events GROUP BY k),
        |c2 AS (SELECT user_id % 64 AS k, count(*)::BIGINT AS c
        |  FROM events GROUP BY k),
        |c3 AS (SELECT event_type AS k, count(*)::BIGINT AS c
        |  FROM events GROUP BY k),
        |u AS (
        |  SELECT 'day' AS candidate_key, count(*)::BIGINT AS n_parts,
        |    sum(c)::BIGINT AS n_rows, max(c)::BIGINT AS max_rows FROM c1
        |  UNION ALL
        |  SELECT 'user_bucket_64', count(*)::BIGINT, sum(c)::BIGINT,
        |    max(c)::BIGINT FROM c2
        |  UNION ALL
        |  SELECT 'event_type', count(*)::BIGINT, sum(c)::BIGINT,
        |    max(c)::BIGINT FROM c3)
        |SELECT candidate_key, n_parts, n_rows, max_rows,
        |  (max_rows * n_parts * 1000000 // n_rows)::BIGINT AS skew_e6,
        |  ((max_rows * n_parts + n_rows - 1) // n_rows)::BIGINT AS salt_factor
        |FROM u ORDER BY candidate_key""".stripMargin,

    "j_bucketed_colocated" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "cdc_scd1_snapshot" ->
      """WITH c AS (SELECT user_id, ts, value,
        |  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, round(value, 2) AS last_value, ts AS last_ts
        |FROM c WHERE rn = 1 AND op = 'U' ORDER BY user_id""".stripMargin,
    "layout_zorder_cluster" ->
      """WITH z AS (SELECT user_id, day(ts)::BIGINT AS d,
        |  (list_sum([(((user_id & 2097151) >> i) & 1) << (2*i+1) for i in range(21)])
        |   + list_sum([(((day(ts)::BIGINT & 2097151) >> i) & 1) << (2*i) for i in range(21)]))::BIGINT AS zv
        |  FROM events)
        |SELECT (zv >> 6)::BIGINT AS bucket, count(*) AS n,
        |  min(user_id) AS min_user, max(user_id) AS max_user,
        |  min(d) AS min_day, max(d) AS max_day
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,
    "privacy_k_anonymity" ->
      """WITH census AS (SELECT lang, source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY lang, source)
        |SELECT lang, source, n FROM census WHERE n >= 8
        |UNION ALL
        |SELECT '*' AS lang, '*' AS source, sum(n)::BIGINT AS n
        |  FROM census WHERE n < 8 HAVING sum(n) IS NOT NULL
        |ORDER BY lang, source""".stripMargin,

    "privacy_l_diversity" ->
      """SELECT lang, source, count(*)::BIGINT AS n,
        |  count(DISTINCT (n_chars // 100))::BIGINT AS l_distinct,
        |  (count(DISTINCT (n_chars // 100)) >= 3)::INT AS diverse
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "shard_ring_vnodes" ->
      """WITH keys AS (SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT AS h
        |  FROM documents),
        |vn AS (SELECT i % 9 AS sh, i // 9 AS j,
        |    ('0x' || substr(md5((i % 9)::VARCHAR || ':' ||
        |      (i // 9)::VARCHAR || ':ring'), 1, 12))::BIGINT AS pos
        |  FROM (SELECT unnest(range(144)) AS i)),
        |a8 AS (SELECT doc_id, sh FROM (
        |    SELECT k.doc_id, v.sh, row_number() OVER (PARTITION BY k.doc_id
        |      ORDER BY (v.pos < k.h), v.pos, v.sh) AS rn
        |    FROM keys k CROSS JOIN vn v WHERE v.sh < 8) WHERE rn = 1),
        |a9 AS (SELECT doc_id, sh FROM (
        |    SELECT k.doc_id, v.sh, row_number() OVER (PARTITION BY k.doc_id
        |      ORDER BY (v.pos < k.h), v.pos, v.sh) AS rn
        |    FROM keys k CROSS JOIN vn v) WHERE rn = 1)
        |SELECT a8.sh::BIGINT AS shard8, count(*)::BIGINT AS n_docs,
        |  sum((a9.sh <> a8.sh)::INT)::BIGINT AS n_moved,
        |  round(sum((a9.sh <> a8.sh)::INT)::DOUBLE / count(*), 6)
        |    AS move_frac
        |FROM a8 JOIN a9 USING (doc_id)
        |GROUP BY a8.sh ORDER BY shard8""".stripMargin,

    "shard_rendezvous" ->
      """WITH a AS (SELECT doc_id, s,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || s::VARCHAR), 1, 8))
        |      ::BIGINT AS w
        |  FROM documents, unnest(range(0, 9)) u(s)),
        |s8 AS (SELECT doc_id, s AS shard8 FROM (
        |    SELECT doc_id, s, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY w DESC, s) AS rn
        |    FROM a WHERE s < 8) WHERE rn = 1),
        |s9 AS (SELECT doc_id, s AS shard9 FROM (
        |    SELECT doc_id, s, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY w DESC, s) AS rn
        |    FROM a) WHERE rn = 1)
        |SELECT shard8::BIGINT AS shard8, count(*)::BIGINT AS n_docs,
        |  sum((shard9 <> shard8)::INT)::BIGINT AS n_moved,
        |  round(sum((shard9 <> shard8)::INT)::DOUBLE / count(*), 6)
        |    AS move_frac
        |FROM s8 JOIN s9 USING (doc_id)
        |GROUP BY shard8 ORDER BY shard8""".stripMargin,
    "privacy_t_closeness" ->
      """WITH d AS (SELECT lang, source, (n_chars // 100)::BIGINT AS band
        |  FROM documents),
        |bands AS (SELECT band, count(*) AS n_b FROM d GROUP BY band),
        |bc AS (SELECT band, sum(n_b) OVER (ORDER BY band) AS cum_all,
        |    (SELECT sum(n_b) FROM bands) AS n_total,
        |    (SELECT count(*) FROM bands) AS m FROM bands),
        |g AS (SELECT lang, source, count(*) AS n_g FROM d
        |  GROUP BY lang, source),
        |gb AS (SELECT lang, source, band, count(*) AS c_gb FROM d
        |  GROUP BY lang, source, band),
        |grid AS (SELECT g.lang, g.source, g.n_g, bc.band, bc.cum_all,
        |    bc.n_total, bc.m,
        |    sum(coalesce(gb.c_gb, 0)) OVER (PARTITION BY g.lang, g.source
        |      ORDER BY bc.band) AS cum_g
        |  FROM g CROSS JOIN bc
        |  LEFT JOIN gb ON gb.lang = g.lang AND gb.source = g.source
        |    AND gb.band = bc.band),
        |agg AS (SELECT lang, source, max(n_g) AS n,
        |    sum(abs(cum_g * n_total - cum_all * n_g)) AS t_num,
        |    max(m) AS m, max(n_total) AS n_total
        |  FROM grid GROUP BY lang, source)
        |SELECT lang, source, n::BIGINT AS n, t_num::BIGINT AS t_num,
        |  CASE WHEN m > 1 THEN round(t_num::DOUBLE /
        |    (n * n_total * (m - 1))::DOUBLE, 6) ELSE 0.0 END AS emd,
        |  CASE WHEN m > 1 THEN
        |    (t_num * 5 <= n * n_total * (m - 1))::INT ELSE 1 END AS close_02
        |FROM agg ORDER BY lang, source""".stripMargin,
    "layout_compaction_plan" ->
      """WITH f AS (SELECT source, doc_id, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT source, ((cum - n_chars) // 2048)::BIGINT AS bin,
        |  count(*)::BIGINT AS n_files, sum(n_chars)::BIGINT AS bin_bytes,
        |  min(doc_id)::BIGINT AS first_doc, max(doc_id)::BIGINT AS last_doc
        |FROM f GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    "privacy_generalize_ladder" ->
      """WITH l0 AS (SELECT 0::BIGINT AS level, 10::BIGINT AS band_width,
        |    count(*)::BIGINT AS n_groups, min(c)::BIGINT AS min_group,
        |    (min(c) >= 5)::BIGINT AS k_ok FROM (
        |    SELECT lang, n_chars // 10 AS band, count(*) AS c
        |    FROM documents GROUP BY lang, band)),
        |l1 AS (SELECT 1::BIGINT, 100::BIGINT, count(*)::BIGINT,
        |    min(c)::BIGINT, (min(c) >= 5)::BIGINT FROM (
        |    SELECT lang, n_chars // 100 AS band, count(*) AS c
        |    FROM documents GROUP BY lang, band)),
        |l2 AS (SELECT 2::BIGINT, 1000::BIGINT, count(*)::BIGINT,
        |    min(c)::BIGINT, (min(c) >= 5)::BIGINT FROM (
        |    SELECT lang, n_chars // 1000 AS band, count(*) AS c
        |    FROM documents GROUP BY lang, band)),
        |l3 AS (SELECT 3::BIGINT, 0::BIGINT, count(*)::BIGINT,
        |    min(c)::BIGINT, (min(c) >= 5)::BIGINT FROM (
        |    SELECT count(*) AS c FROM documents)),
        |ladder AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1
        |  UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3),
        |mo AS (SELECT min(level) AS ml FROM ladder WHERE k_ok = 1)
        |SELECT level, band_width, n_groups, min_group, k_ok,
        |  (level = ml)::BIGINT AS chosen
        |FROM ladder CROSS JOIN mo ORDER BY level""".stripMargin,
    "layout_zone_map_pruning" ->
      """WITH st AS (SELECT date_trunc('day', ts)::DATE AS day,
        |    max(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS mx
        |  FROM events GROUP BY day),
        |pr AS (SELECT unnest([25000, 30000, 35000, 40000, 50000])::BIGINT
        |    AS threshold_cents)
        |SELECT threshold_cents, count(*)::BIGINT AS n_partitions,
        |  sum((mx < threshold_cents)::INT)::BIGINT AS n_prunable,
        |  (sum((mx < threshold_cents)::INT)::BIGINT * 1000000
        |    // count(*))::BIGINT AS prunable_frac_e6
        |FROM st CROSS JOIN pr
        |GROUP BY threshold_cents ORDER BY threshold_cents""".stripMargin
  )
}
