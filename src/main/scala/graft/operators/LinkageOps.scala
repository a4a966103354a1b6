package graft.operators

import graft.Tables
import graft.api.Pins.PinSyntax
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage (Fellegi–Sunter 1969) — the field-wise
  * complement of the text/minhash dedup family: when two record SOURCES
  * describe the same entities with clerical noise, match/non-match
  * evidence is the per-field agreement PATTERN, weighted by how
  * discriminating each field is.
  *
  * The fixture manufactures the second source deterministically from
  * `customer` with md5-seeded clerical noise (the repo's engine-portable
  * draw idiom): ~10% of names lose their last character, ~5% of nation
  * keys shift, every account balance jitters by up to ±5 — so ground
  * truth (same custkey) is known and the decision table can report
  * true-match purity per pattern.
  *
  * Scale story: candidate generation is BLOCKING — an equi join on
  * (mktsegment, nationkey), never an all-pairs cross. Pair volume is
  * Σ_b |A_b|·|B_b|, bounded by the block-size cap any production linker
  * enforces (same shape as the LSH band cap in dedup_minhash_lsh). The
  * u-probabilities (P(agree | random non-match) = Σ_v p_v² under the
  * field's empirical value distribution) come from per-field count
  * aggregates — three map-side-combinable groupBys — and the log-weight
  * math runs on the EIGHT-row pattern table after aggregation, not per
  * pair. Per-pair work is three equality tests.
  */
object LinkageOps {

  /** The clean and md5-noised record sides, blocked-join-ready. */
  private def sides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cust = Tables.customer(s, dir)
    def draw(salt: String) =
      conv(substring(md5(concat(col("c_custkey").cast("string"),
        lit(salt))), 1, 4), 16, 10).cast("long")
    val clean = cust.select(
      col("c_custkey").as("a_key"), col("c_name").as("a_name"),
      col("c_nationkey").as("a_nation"), col("c_mktsegment").as("a_seg"),
      floor(col("c_acctbal") / 500.0).cast("long").as("a_bucket"),
      floor(col("c_acctbal") * 100 + 0.5).cast("long").as("a_cents"))
    val dirty = cust
      .withColumn("name_d",
        when(draw(":fs1") % 10 === 0,
             expr("substring(c_name, 1, length(c_name) - 1)"))
          .otherwise(col("c_name")))
      .withColumn("nation_d",
        when(draw(":fs2") % 20 === 0, (col("c_nationkey") + 1) % 25)
          .otherwise(col("c_nationkey")))
      .withColumn("acct_d", col("c_acctbal") + (draw(":fs3") % 11 - 5))
      .select(col("c_custkey").as("b_key"), col("name_d").as("b_name"),
              col("nation_d").as("b_nation"),
              col("c_mktsegment").as("b_seg"),
              floor(col("acct_d") / 500.0).cast("long").as("b_bucket"),
              floor(col("acct_d") * 100 + 0.5).cast("long").as("b_cents"))
    (clean, dirty)
  }

  /** The THIRD record source (r13 verdict #4 — fan-in 3): names
    * truncated by 2 chars (1/7, salt :sv1), balances jittered ±5
    * (salt :sv3), nation keys shifted on the SAME :fs2 draw as the
    * second source — the two noisy feeds share an upstream geocoder,
    * so their errors correlate and the majority-vote rule has real
    * both-shifted cases to decide (independent draws would make that
    * a 1/400 event the small fixture never exhibits). */
  private def thirdSide(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    def draw(salt: String) =
      conv(substring(md5(concat(col("c_custkey").cast("string"),
        lit(salt))), 1, 4), 16, 10).cast("long")
    cust
      .withColumn("name_t",
        when(draw(":sv1") % 7 === 0,
             expr("substring(c_name, 1, length(c_name) - 2)"))
          .otherwise(col("c_name")))
      .withColumn("nation_t",
        when(draw(":fs2") % 20 === 0, (col("c_nationkey") + 1) % 25)
          .otherwise(col("c_nationkey")))
      .withColumn("acct_t", col("c_acctbal") + (draw(":sv3") % 11 - 5))
      .select(col("c_custkey").as("t_key"), col("name_t").as("t_name"),
              col("nation_t").as("t_nation"),
              floor(col("acct_t") * 100 + 0.5).cast("long").as("t_cents"))
  }

  /** Majority-vote nation per entity over a stacked (k, src, nat)
    * feed: score = cnt·10 − best_src, so the COUNT decides first and
    * the LOWEST (most-trusted) source carrying the value breaks ties
    * — scores cannot collide within an entity because distinct
    * values partition the ≤3 records and src values are distinct in
    * 1..3. Factored out of link_survivorship3 so Round15Spec can pin
    * the tie semantics in isolation (the fan-in-3 configuration the
    * fixture replay does not exhibit: a 3-way split with all cnt = 1,
    * where the trust order alone decides). */
  private[graft] def nationMajority(stacked: DataFrame): DataFrame =
    stacked.groupBy(col("k"), col("nat"))
      .agg(count(lit(1)).as("cnt"), min(col("src")).as("best_src"))
      .groupBy(col("k"))
      .agg(max_by(col("nat"), col("cnt") * 10 - col("best_src"))
        .as("nation_majority"))

  /** Blocked candidate pairs reduced to the agreement-pattern grain. */
  private def patternTable(s: SparkSession, dir: String): DataFrame = {
    val (clean, dirty) = sides(s, dir)
    clean.join(dirty,
        col("a_seg") === col("b_seg") && col("a_nation") === col("b_nation"))
      .select(
        (col("a_name") === col("b_name")).cast("int").as("ag_name"),
        lit(1).as("ag_nation"), // blocking key — agrees by construction
        (col("a_bucket") === col("b_bucket")).cast("int").as("ag_bucket"),
        (col("a_key") === col("b_key")).cast("int").as("is_true"))
      .groupBy(col("ag_name"), col("ag_nation"), col("ag_bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("is_true")).as("n_true"))
      // lineage pin (r11 verdict #6 discipline): the EM consumer reads
      // this ≤8-row table three times — un-pinned, each read re-runs
      // the blocked join
      .pin(eager = false)
  }

  /** E-step posterior P(match | pattern) under params (p, m1, u1, m2,
    * u2) — literal operation order shared verbatim with the oracle SQL
    * (left-assoc products, explicit 1.0 − x complements). */
  private def emG(p: Column, m1: Column, u1: Column,
      m2: Column, u2: Column): Column = {
    val pm = p *
      when(col("ag_name") === 1, m1).otherwise(lit(1.0) - m1) *
      when(col("ag_bucket") === 1, m2).otherwise(lit(1.0) - m2)
    val pu = (lit(1.0) - p) *
      when(col("ag_name") === 1, u1).otherwise(lit(1.0) - u1) *
      when(col("ag_bucket") === 1, u2).otherwise(lit(1.0) - u2)
    pm / (pm + pu)
  }

  /** M-step: re-estimate (p, m1, u1, m2, u2) from the posterior-weighted
    * pattern census — one aggregate over the ≤8-row pattern table. */
  private def emMStep(withG: DataFrame): DataFrame = withG.agg(
    (sum(col("n_pairs") * col("g")) / sum(col("n_pairs"))).as("p"),
    (sum(col("n_pairs") * col("g") * col("ag_name")) /
      sum(col("n_pairs") * col("g"))).as("m1"),
    (sum(col("n_pairs") * (lit(1.0) - col("g")) * col("ag_name")) /
      sum(col("n_pairs") * (lit(1.0) - col("g")))).as("u1"),
    (sum(col("n_pairs") * col("g") * col("ag_bucket")) /
      sum(col("n_pairs") * col("g"))).as("m2"),
    (sum(col("n_pairs") * (lit(1.0) - col("g")) * col("ag_bucket")) /
      sum(col("n_pairs") * (lit(1.0) - col("g")))).as("u2"))

  private val emRounds = 4

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // EM convergence report (r12 verdict #2): the same Winkler EM as
    // link_em_weights unrolled to 4 rounds, ONE output row per round
    // with that round's parameter estimates and delta_r6 = max |Δθ|
    // over the 5 parameters vs the previous round (round 1 diffs
    // against the textbook init 0.5/0.9/0.1/0.9/0.1) — so the output
    // CLAIMS convergence (delta collapsing toward 0) instead of just
    // asserting a depth. Data passes are unchanged: ONE blocked join
    // builds the ≤8-row pattern census (localCheckpoint-pinned); every
    // E/M round is an aggregate over those 8 rows, O(patterns·rounds)
    // total, nothing per-pair. The oracle SQL is generated from the
    // SAME round loop, so each round's operation order is shared
    // verbatim between engines.
    "link_em_convergence" -> ((s, dir) => {
      val pat = patternTable(s, dir)
        .select(col("ag_name"), col("ag_bucket"), col("n_pairs"))
      val init = s.range(1).select(
        lit(0.5).as("p"), lit(0.9).as("m1"), lit(0.1).as("u1"),
        lit(0.9).as("m2"), lit(0.1).as("u2"))
      val rows = (1 to emRounds).foldLeft(
          (init, Seq.empty[DataFrame])) { case ((prev, acc), r) =>
        val withG =
          if (r == 1) pat.withColumn("g",
            emG(lit(0.5), lit(0.9), lit(0.1), lit(0.9), lit(0.1)))
          else pat.crossJoin(broadcast(prev)).withColumn("g",
            emG(col("p"), col("m1"), col("u1"), col("m2"), col("u2")))
        // PINNED (r15 opt, guide §2.4): each round's 1-row parameter
        // table feeds TWO consumers (next round's E-step and this
        // round's delta row) — un-pinned the unroll replays every prior
        // round per consumer (2^rounds growth, 60 Exchange nodes in the
        // before-plan for 4 rounds over an 8-row census).
        val next = emMStep(withG).pin(eager = false)
        val prevR = prev.select(col("p").as("pp"), col("m1").as("pm1"),
          col("u1").as("pu1"), col("m2").as("pm2"), col("u2").as("pu2"))
        val row = next.crossJoin(broadcast(prevR)).select(
          lit(r).as("round"),
          round(col("p"), 6).as("p_r6"),
          round(col("m1"), 6).as("m_name_r6"),
          round(col("u1"), 6).as("u_name_r6"),
          round(col("m2"), 6).as("m_bucket_r6"),
          round(col("u2"), 6).as("u_bucket_r6"),
          round(greatest(
            abs(col("p") - col("pp")), abs(col("m1") - col("pm1")),
            abs(col("u1") - col("pu1")), abs(col("m2") - col("pm2")),
            abs(col("u2") - col("pu2"))), 6).as("delta_r6"))
        (next, acc :+ row)
      }._2
      rows.reduce(_ unionByName _).orderBy(col("round"))
    }),

    // Field-level SURVIVORSHIP — the golden-record step after linkage
    // decides two records describe one entity (MDM "merge" — the
    // complement of dedup_keep_best, which picks a whole RECORD; this
    // merges per FIELD under per-field rules): name by COMPLETENESS
    // (longest value; a length tie implies identical names in this
    // fixture, so the pick is deterministic), nation by SOURCE TRUST
    // (lowest source rank = the clean feed), balance by CONSENSUS
    // (mean of the observed cents, half-up via the floor identity
    // floor((Σ+1)/2) — written as the pmod floor-division form in BOTH
    // engines: balances go negative and DuckDB's bare // TRUNCATES
    // toward zero there, so the even-numerator pmod form is the only
    // portable floor; caught by the oracle gate on first run), plus a
    // per-entity conflict census. One union + ONE entity-keyed
    // aggregate — survivorship never joins, so at 100 TB it costs one
    // shuffle of (entity, fields) regardless of how many sources feed
    // an entity.
    "link_survivorship" -> ((s, dir) => {
      val (clean, dirty) = sides(s, dir)
      val stacked = clean.select(col("a_key").as("k"), lit(1).as("src"),
          col("a_name").as("nm"), col("a_nation").as("nat"),
          col("a_cents").as("cents"))
        .unionByName(dirty.select(col("b_key").as("k"), lit(2).as("src"),
          col("b_name").as("nm"), col("b_nation").as("nat"),
          col("b_cents").as("cents")))
      stacked.groupBy(col("k"))
        .agg(count(lit(1)).as("n_records"),
             max_by(col("nm"), length(col("nm"))).as("name_golden"),
             min_by(col("nat"), col("src")).as("nation_golden"),
             sum(col("cents")).as("sc"),
             (countDistinct(col("nm")) - 1 + countDistinct(col("nat")) - 1 +
              countDistinct(col("cents")) - 1).as("n_conflicts"))
        .select(col("k").as("custkey"), col("n_records"),
                col("name_golden"), col("nation_golden"),
                expr("((sc + 1) - pmod(sc + 1, 2)) div 2")
                  .as("acct_golden_cents"),
                col("n_conflicts"))
        .orderBy(col("custkey"))
    }),

    // SURVIVORSHIP AT FAN-IN 3 (r13 verdict #4): a third md5-noised
    // source exercises the MAJORITY rule that the 2-source fixture can
    // never reach (2-source consensus degenerates to tie-break). The
    // third feed truncates names by 2 chars (1/7, salt :sv1), jitters
    // balances ±5 (salt :sv3) — and shifts nation keys on the SAME
    // :fs2 draw as source 2 (the two noisy feeds model downstreams of
    // one shared bad geocoder, so their nation errors CORRELATE; with
    // independent 1/20 draws the both-shift event is 1/400 and the
    // sf0.01 fixture would never exhibit it). Rules: name by
    // completeness (longest), nation by MAJORITY VOTE (count, ties to
    // the most-trusted source via the unique score cnt·10 − best_src —
    // scores cannot collide within an entity because distinct values
    // partition 3 rows), nation by source trust REPORTED ALONGSIDE
    // (for the ~5% of entities where both noisy feeds shifted,
    // majority ≠ trust — majority_ne_trust marks them; Round14Spec
    // pins one), balance by consensus mean of 3 half-up via the
    // portable pmod floor form (floor((2Σ+3)/6); balances go negative
    // and DuckDB's // truncates there — the link_survivorship lesson).
    // Plan: one 3-way union + ONE entity aggregate + one ≤3-rows-per-
    // entity majority rollup joined back — two exchanges on the entity
    // key at any scale, never a join against data rows.
    "link_survivorship3" -> ((s, dir) => {
      val (clean, dirty) = sides(s, dir)
      val third = thirdSide(s, dir)
      val stacked = clean.select(col("a_key").as("k"), lit(1).as("src"),
          col("a_name").as("nm"), col("a_nation").as("nat"),
          col("a_cents").as("cents"))
        .unionByName(dirty.select(col("b_key").as("k"), lit(2).as("src"),
          col("b_name").as("nm"), col("b_nation").as("nat"),
          col("b_cents").as("cents")))
        .unionByName(third.select(col("t_key").as("k"), lit(3).as("src"),
          col("t_name").as("nm"), col("t_nation").as("nat"),
          col("t_cents").as("cents")))
        // main aggregate + majority rollup both read the union
        .pin(eager = false)
      val majority = nationMajority(stacked)
      stacked.groupBy(col("k"))
        .agg(count(lit(1)).as("n_records"),
             max_by(col("nm"), length(col("nm"))).as("name_golden"),
             min_by(col("nat"), col("src")).as("nation_trust"),
             sum(col("cents")).as("sc"),
             (countDistinct(col("nm")) - 1 + countDistinct(col("nat")) - 1 +
              countDistinct(col("cents")) - 1).as("n_conflicts"))
        .join(majority, Seq("k"))
        .select(col("k").as("custkey"), col("n_records"),
                col("name_golden"), col("nation_majority"),
                col("nation_trust"),
                (col("nation_majority") =!= col("nation_trust")).cast("int")
                  .as("majority_ne_trust"),
                expr("((2*sc + 3) - pmod(2*sc + 3, 6)) div 6")
                  .as("acct_golden_cents"),
                col("n_conflicts"))
        .orderBy(col("custkey"))
    }),

    // BLOCKING-QUALITY AUDIT (r14 session two): the two numbers every
    // record-linkage deployment must publish about its blocking key
    // BEFORE trusting the downstream weights — pair completeness
    // (what fraction of TRUE matches share a block; here a true pair
    // survives iff the dirty feed's nation wasn't shifted, since the
    // segment always agrees by construction) and reduction ratio
    // (1 − candidates/|A|·|B|). The candidate count comes from BLOCK
    // SIZE statistics (Σ|A_b|·|B_b| over the joined per-block count
    // tables) — pairs are never materialized, so the audit costs two
    // key-grain aggregates + one |keys|-row join at any scale; the
    // |A|·|B| product moves to DECIMAL(38,0) past ~3e9 rows per side,
    // same shape. Ground truth is the fixture's known identity join.
    "link_blocking_quality" -> ((s, dir) => {
      // PINNED (r16, guide §2.4, ledger-mined 6 scans): each side
      // feeds THREE passes (block counts, identity-join truth,
      // totals) — un-pinned every pass re-derived the noised feed from
      // customer. Size-guarded (|customers|-row frames — the VERDICT
      // r15 #2 liability class at corpus scale). Scans 6 → 2.
      val (clean0, dirty0) = sides(s, dir)
      val clean = graft.api.Pins.bounded(clean0)
      val dirty = graft.api.Pins.bounded(dirty0)
      val ba = clean.groupBy(col("a_seg").as("seg"), col("a_nation").as("nat"))
        .agg(count(lit(1)).as("na"))
      val bb = dirty.groupBy(col("b_seg").as("seg"), col("b_nation").as("nat"))
        .agg(count(lit(1)).as("nb"))
      val candCount = ba.join(bb, Seq("seg", "nat"))
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("n_cand"))
      val truth = clean.select(col("a_key"), col("a_nation"))
        .join(dirty.select(col("b_key"), col("b_nation")),
              col("a_key") === col("b_key"))
        .agg(count(lit(1)).as("n_true"),
             count(when(col("a_nation") === col("b_nation"), 1))
               .as("n_true_blocked"))
      val totals = clean.agg(count(lit(1)).as("n_a"))
        .crossJoin(dirty.agg(count(lit(1)).as("n_b")))
      truth.crossJoin(candCount).crossJoin(totals)
        .select(col("n_a"), col("n_b"), col("n_true"),
                col("n_true_blocked"), col("n_cand"),
                expr("n_true_blocked * 1000000 div greatest(n_true, 1)")
                  .as("pair_completeness_e6"),
                // n_a·n_b·1e6 wraps BIGINT past ~3M rows/side; the
                // DECIMAL(38,0) form (DuckDB: HUGEINT) keeps both
                // engines exact to ~1e13-row sides
                expr("(((cast(n_a as decimal(38,0)) * n_b) - n_cand)" +
                     " * 1000000) div" +
                     " greatest(cast(n_a as decimal(38,0)) * n_b, 1)")
                  .as("reduction_ratio_e6"),
                expr("n_true_blocked * 1000000 div greatest(n_cand, 1)")
                  .as("precision_e6"))
    }),

    // BLOCKING-KEY COMPARISON (r14 verdict #5): the single-key audit
    // above grades the SHIPPED key; the decision it exists to inform
    // is WHICH key to ship — so rank the candidates in one table.
    // Same statistics-only candidate counting (Σ|A_b|·|B_b| over
    // per-block count tables, pairs never materialized), one row per
    // candidate key: the shipped (segment, nation), the coarser
    // (segment) alone, and the segment-free (nation, balance-bucket).
    // All three blocked-truth counters come from ONE identity-join
    // pass (FILTER counters over the same join), so adding a
    // candidate key costs one |keys|-row aggregate — never another
    // pass over data pairs. Expected shape on this fixture: (segment)
    // has perfect completeness (the segment is never noised) but ~25×
    // the candidates; (nation, bucket) cuts candidates hardest but
    // additionally loses every true pair whose jittered balance
    // crossed a 500-cent bucket edge.
    "link_blocking_quality_keys" -> ((s, dir) => {
      // PINNED (r16, guide §2.4, ledger-mined 6 scans): each side
      // feeds FIVE passes (truth join, three per-key block counts,
      // totals). Size-guarded like link_blocking_quality above.
      val (clean0, dirty0) = sides(s, dir)
      val clean = graft.api.Pins.bounded(clean0)
      val dirty = graft.api.Pins.bounded(dirty0)
      // 1-row scalars pinned: three key rows read each of them
      val truth = clean.join(dirty, col("a_key") === col("b_key"))
        .agg(count(lit(1)).as("n_true"),
             count(when(col("a_seg") === col("b_seg"), 1)).as("tb_seg"),
             count(when(col("a_seg") === col("b_seg") &&
                        col("a_nation") === col("b_nation"), 1))
               .as("tb_segnat"),
             count(when(col("a_nation") === col("b_nation") &&
                        col("a_bucket") === col("b_bucket"), 1))
               .as("tb_natbuck"))
        .pin(eager = false)
      val totals = clean.agg(count(lit(1)).as("n_a"))
        .crossJoin(dirty.agg(count(lit(1)).as("n_b")))
        .pin(eager = false)
      def candCount(aKey: Seq[String], bKey: Seq[String]): DataFrame = {
        val ba = clean.groupBy(aKey.map(col): _*).agg(count(lit(1)).as("na"))
        val bb = dirty.groupBy(bKey.map(col): _*).agg(count(lit(1)).as("nb"))
        val cond = aKey.zip(bKey).map { case (a, b) => ba(a) === bb(b) }
          .reduce(_ && _)
        ba.join(bb, cond)
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("n_cand"))
      }
      def row(name: String, cand: DataFrame, tb: String): DataFrame =
        truth.crossJoin(cand).crossJoin(totals)
          .select(lit(name).as("blocking_key"), col("n_a"), col("n_b"),
                  col("n_true"), col(tb).as("n_true_blocked"), col("n_cand"),
                  expr(s"$tb * 1000000 div greatest(n_true, 1)")
                    .as("pair_completeness_e6"),
                  // DECIMAL(38,0) product — see link_blocking_quality
                  expr("(((cast(n_a as decimal(38,0)) * n_b) - n_cand)" +
                       " * 1000000) div" +
                       " greatest(cast(n_a as decimal(38,0)) * n_b, 1)")
                    .as("reduction_ratio_e6"),
                  expr(s"$tb * 1000000 div greatest(n_cand, 1)")
                    .as("precision_e6"))
      row("nation_bucket",
          candCount(Seq("a_nation", "a_bucket"),
                    Seq("b_nation", "b_bucket")), "tb_natbuck")
        .unionByName(row("seg_nation",
          candCount(Seq("a_seg", "a_nation"),
                    Seq("b_seg", "b_nation")), "tb_segnat"))
        .unionByName(row("segment",
          candCount(Seq("a_seg"), Seq("b_seg")), "tb_seg"))
        .orderBy(col("blocking_key"))
    }),

    // Fellegi–Sunter decision table: one row per agreement pattern with
    // pair count, true-match count, and the pattern's log2 match weight.
    "link_fellegi_sunter" -> ((s, dir) => {
      // PINNED (r15 opt, guide §2.4): the clean side feeds the three
      // per-field u-probability passes — un-pinned each re-scanned
      // customer (6 scans in the before-plan). 15k-row narrow frame.
      val (clean0, _) = sides(s, dir)
      val clean = clean0.pin(eager = false)

      // u-probabilities from the clean side's value distributions:
      // P(two random records agree on field f) = Σ_v (n_v / N)².
      def uProb(df: DataFrame, c: String, alias: String): DataFrame = df
        .groupBy(col(c)).agg(count(lit(1)).as("nv"))
        .agg((sum(col("nv") * col("nv")) /
              (sum(col("nv")) * sum(col("nv")))).as(alias))
      val us = uProb(clean, "a_name", "u_name")
        .crossJoin(uProb(clean, "a_nation", "u_nation"))
        .crossJoin(uProb(clean, "a_bucket", "u_bucket"))

      val patterns = patternTable(s, dir)

      // m = 0.95, 1-m written as the literal 0.05 (not computed — the
      // double 1.0-0.95 is not exactly 0.05; the oracle uses the same
      // literals). Sum the natural-log weights FIRST, divide by ln 2
      // once, so the FP operation order matches the oracle exactly.
      def w(ag: String, u: String) =
        when(col(ag) === 1, log(lit(0.95) / col(u)))
          .otherwise(log(lit(0.05) / (lit(1.0) - col(u))))
      patterns.crossJoin(broadcast(us))
        .select(col("ag_name"), col("ag_nation"), col("ag_bucket"),
                col("n_pairs"), col("n_true"),
                round((w("ag_name", "u_name") + w("ag_nation", "u_nation") +
                       w("ag_bucket", "u_bucket")) / log(lit(2.0)), 6)
                  .as("score_r6"))
        .orderBy(desc("score_r6"), col("ag_name"), col("ag_bucket"))
    }),

    // EM-estimated m/u weights (Winkler 1988): two unrolled EM rounds
    // over the agreement-PATTERN table — the E-step posterior and the
    // M-step reweighting never touch a pair row, only the 4-row
    // pattern census, which is the whole point of the F-S reduction:
    // at 100 TB the EM cost is O(patterns · rounds), data passes stay
    // at ONE blocked join. Initial params are the textbook m=0.9,
    // u=0.1, p=0.5; literals and operation order are written
    // identically in both engines (left-assoc products, ::DOUBLE
    // literals in the oracle so DuckDB does not lift them to DECIMAL).
    // Output: the pattern table with its round-2 posterior and the
    // round-2 parameter estimates (constant columns).
    "link_em_weights" -> ((s, dir) => {
      val pat = patternTable(s, dir)
        .select(col("ag_name"), col("ag_bucket"), col("n_pairs"))
      val p1 = emMStep(pat.withColumn("g",
        emG(lit(0.5), lit(0.9), lit(0.1), lit(0.9), lit(0.1))))
      val withG2 = pat.crossJoin(broadcast(p1)).withColumn("g",
        emG(col("p"), col("m1"), col("u1"), col("m2"), col("u2")))
        // PINNED (r15 opt): consumed by p2 AND the report projection —
        // un-pinned, round 1 (p1) replays once per consumer. ≤8 rows.
        .pin(eager = false)
      val p2 = emMStep(withG2).select(
        col("p").as("p2"), col("m1").as("m1f"), col("u1").as("u1f"),
        col("m2").as("m2f"), col("u2").as("u2f"))
      withG2
        .crossJoin(broadcast(p2))
        .select(col("ag_name"), col("ag_bucket"), col("n_pairs"),
                round(col("g"), 6).as("g2_r6"),
                round(col("p2"), 6).as("p_r6"),
                round(col("m1f"), 6).as("m_name_r6"),
                round(col("u1f"), 6).as("u_name_r6"),
                round(col("m2f"), 6).as("m_bucket_r6"),
                round(col("u2f"), 6).as("u_bucket_r6"))
        .orderBy(col("ag_name"), col("ag_bucket"))
    })
  )

  /** Shared fixture CTEs (clean/dirty/pat) — verbatim the
    * link_em_weights prefix. */
  private val emPatSql =
    """WITH clean AS (
      |  SELECT c_custkey AS a_key, c_name AS a_name,
      |         c_nationkey AS a_nation, c_mktsegment AS a_seg,
      |         floor(c_acctbal / 500.0)::BIGINT AS a_bucket
      |  FROM customer),
      |dirty AS (
      |  SELECT c_custkey AS b_key,
      |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs1'), 1, 4))::BIGINT % 10 = 0
      |         THEN substr(c_name, 1, length(c_name) - 1) ELSE c_name END AS b_name,
      |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs2'), 1, 4))::BIGINT % 20 = 0
      |         THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS b_nation,
      |    c_mktsegment AS b_seg,
      |    floor((c_acctbal +
      |      (('0x' || substr(md5(c_custkey::VARCHAR || ':fs3'), 1, 4))::BIGINT % 11 - 5))
      |      / 500.0)::BIGINT AS b_bucket
      |  FROM customer),
      |pat AS (
      |  SELECT (a_name = b_name)::INT AS ag_name,
      |         (a_bucket = b_bucket)::INT AS ag_bucket,
      |         count(*) AS n_pairs
      |  FROM clean JOIN dirty
      |    ON a_seg = b_seg AND a_nation = b_nation
      |  GROUP BY 1, 2)""".stripMargin

  /** Unrolled EM-convergence oracle, generated by the SAME round loop
    * as the Spark side: per round r, g_r (E-step) + p_r (M-step) CTEs,
    * then one report row per round with delta vs the previous round's
    * params (round 1 vs the init literals). */
  private def emConvergenceSql: String = {
    def gBody(p: String, m1: String, u1: String, m2: String, u2: String) =
      s"""  SELECT ag_name, ag_bucket, n_pairs,
         |    ($p
         |       * (CASE WHEN ag_name = 1 THEN $m1 ELSE 1.0::DOUBLE - $m1 END)
         |       * (CASE WHEN ag_bucket = 1 THEN $m2 ELSE 1.0::DOUBLE - $m2 END))
         |    / (($p
         |       * (CASE WHEN ag_name = 1 THEN $m1 ELSE 1.0::DOUBLE - $m1 END)
         |       * (CASE WHEN ag_bucket = 1 THEN $m2 ELSE 1.0::DOUBLE - $m2 END))
         |      + ((1.0::DOUBLE - $p)
         |       * (CASE WHEN ag_name = 1 THEN $u1 ELSE 1.0::DOUBLE - $u1 END)
         |       * (CASE WHEN ag_bucket = 1 THEN $u2 ELSE 1.0::DOUBLE - $u2 END)))
         |    AS g""".stripMargin
    val ctes = (1 to emRounds).map { r =>
      val g =
        if (r == 1) s"g1 AS (\n${gBody("0.5::DOUBLE", "0.9::DOUBLE",
          "0.1::DOUBLE", "0.9::DOUBLE", "0.1::DOUBLE")}\n  FROM pat)"
        else s"g$r AS (\n${gBody("p", "m1", "u1", "m2", "u2")}\n" +
          s"  FROM pat CROSS JOIN p${r - 1})"
      val p =
        s"""p$r AS (
           |  SELECT sum(n_pairs * g) / sum(n_pairs) AS p,
           |         sum(n_pairs * g * ag_name) / sum(n_pairs * g) AS m1,
           |         sum(n_pairs * (1.0::DOUBLE - g) * ag_name)
           |           / sum(n_pairs * (1.0::DOUBLE - g)) AS u1,
           |         sum(n_pairs * g * ag_bucket) / sum(n_pairs * g) AS m2,
           |         sum(n_pairs * (1.0::DOUBLE - g) * ag_bucket)
           |           / sum(n_pairs * (1.0::DOUBLE - g)) AS u2
           |  FROM g$r)""".stripMargin
      s"$g,\n$p"
    }.mkString(",\n")
    val rows = (1 to emRounds).map { r =>
      val (prevRef, from) =
        if (r == 1)
          (Map("p" -> "0.5::DOUBLE", "m1" -> "0.9::DOUBLE",
               "u1" -> "0.1::DOUBLE", "m2" -> "0.9::DOUBLE",
               "u2" -> "0.1::DOUBLE"),
           "FROM p1")
        else
          (Map("p" -> "prev.p", "m1" -> "prev.m1", "u1" -> "prev.u1",
               "m2" -> "prev.m2", "u2" -> "prev.u2"),
           s"FROM p$r CROSS JOIN p${r - 1} prev")
      s"""SELECT $r::INT AS round,
         |  round(p$r.p, 6) AS p_r6,
         |  round(p$r.m1, 6) AS m_name_r6,
         |  round(p$r.u1, 6) AS u_name_r6,
         |  round(p$r.m2, 6) AS m_bucket_r6,
         |  round(p$r.u2, 6) AS u_bucket_r6,
         |  round(greatest(
         |    abs(p$r.p - ${prevRef("p")}), abs(p$r.m1 - ${prevRef("m1")}),
         |    abs(p$r.u1 - ${prevRef("u1")}), abs(p$r.m2 - ${prevRef("m2")}),
         |    abs(p$r.u2 - ${prevRef("u2")})), 6) AS delta_r6
         |$from""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$emPatSql,\n$ctes\n$rows\nORDER BY 1"
  }

  def oracles: Map[String, String] = Map(
    "link_em_convergence" -> emConvergenceSql,

    "link_blocking_quality" ->
      """WITH clean AS (
        |  SELECT c_custkey AS a_key, c_nationkey AS a_nation,
        |         c_mktsegment AS a_seg
        |  FROM customer),
        |dirty AS (
        |  SELECT c_custkey AS b_key,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs2'), 1, 4))::BIGINT % 20 = 0
        |         THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS b_nation,
        |    c_mktsegment AS b_seg
        |  FROM customer),
        |ba AS (SELECT a_seg AS seg, a_nation AS nat, count(*) AS na
        |  FROM clean GROUP BY 1, 2),
        |bb AS (SELECT b_seg AS seg, b_nation AS nat, count(*) AS nb
        |  FROM dirty GROUP BY 1, 2),
        |cand AS (SELECT coalesce(sum(na * nb), 0)::BIGINT AS n_cand
        |  FROM ba JOIN bb USING (seg, nat)),
        |truth AS (
        |  SELECT count(*)::BIGINT AS n_true,
        |         count(*) FILTER (WHERE a_nation = b_nation)::BIGINT
        |           AS n_true_blocked
        |  FROM clean JOIN dirty ON a_key = b_key),
        |tot AS (SELECT (SELECT count(*) FROM clean)::BIGINT AS n_a,
        |               (SELECT count(*) FROM dirty)::BIGINT AS n_b)
        |SELECT n_a, n_b, n_true, n_true_blocked, n_cand,
        |       (n_true_blocked * 1000000 // greatest(n_true, 1))::BIGINT
        |         AS pair_completeness_e6,
        |       (((n_a::HUGEINT * n_b - n_cand) * 1000000)
        |        // greatest(n_a::HUGEINT * n_b, 1))::BIGINT
        |         AS reduction_ratio_e6,
        |       (n_true_blocked * 1000000 // greatest(n_cand, 1))::BIGINT
        |         AS precision_e6
        |FROM truth, cand, tot""".stripMargin,

    // same sides with buckets; three statistics-only candidate counts
    // + one identity-join truth pass with per-key FILTER counters
    "link_blocking_quality_keys" ->
      """WITH clean AS (
        |  SELECT c_custkey AS a_key, c_nationkey AS a_nation,
        |         c_mktsegment AS a_seg,
        |         floor(c_acctbal / 500.0)::BIGINT AS a_bucket
        |  FROM customer),
        |dirty AS (
        |  SELECT c_custkey AS b_key,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs2'), 1, 4))::BIGINT % 20 = 0
        |         THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS b_nation,
        |    c_mktsegment AS b_seg,
        |    floor((c_acctbal +
        |      (('0x' || substr(md5(c_custkey::VARCHAR || ':fs3'), 1, 4))::BIGINT % 11 - 5))
        |      / 500.0)::BIGINT AS b_bucket
        |  FROM customer),
        |truth AS (
        |  SELECT count(*)::BIGINT AS n_true,
        |         count(*) FILTER (WHERE a_seg = b_seg)::BIGINT AS tb_seg,
        |         count(*) FILTER (WHERE a_seg = b_seg
        |           AND a_nation = b_nation)::BIGINT AS tb_segnat,
        |         count(*) FILTER (WHERE a_nation = b_nation
        |           AND a_bucket = b_bucket)::BIGINT AS tb_natbuck
        |  FROM clean JOIN dirty ON a_key = b_key),
        |tot AS (SELECT (SELECT count(*) FROM clean)::BIGINT AS n_a,
        |               (SELECT count(*) FROM dirty)::BIGINT AS n_b),
        |c_sn AS (SELECT coalesce(sum(na * nb), 0)::BIGINT AS n_cand FROM
        |    (SELECT a_seg AS s, a_nation AS n, count(*) AS na
        |     FROM clean GROUP BY 1, 2) x
        |  JOIN (SELECT b_seg AS s, b_nation AS n, count(*) AS nb
        |        FROM dirty GROUP BY 1, 2) y USING (s, n)),
        |c_s AS (SELECT coalesce(sum(na * nb), 0)::BIGINT AS n_cand FROM
        |    (SELECT a_seg AS s, count(*) AS na FROM clean GROUP BY 1) x
        |  JOIN (SELECT b_seg AS s, count(*) AS nb FROM dirty GROUP BY 1) y
        |    USING (s)),
        |c_nb AS (SELECT coalesce(sum(na * nb), 0)::BIGINT AS n_cand FROM
        |    (SELECT a_nation AS n, a_bucket AS bk, count(*) AS na
        |     FROM clean GROUP BY 1, 2) x
        |  JOIN (SELECT b_nation AS n, b_bucket AS bk, count(*) AS nb
        |        FROM dirty GROUP BY 1, 2) y USING (n, bk)),
        |rows_ AS (
        |  SELECT 'nation_bucket' AS blocking_key, n_a, n_b, n_true,
        |         tb_natbuck AS n_true_blocked, c_nb.n_cand
        |  FROM truth, c_nb, tot
        |  UNION ALL
        |  SELECT 'seg_nation', n_a, n_b, n_true, tb_segnat, c_sn.n_cand
        |  FROM truth, c_sn, tot
        |  UNION ALL
        |  SELECT 'segment', n_a, n_b, n_true, tb_seg, c_s.n_cand
        |  FROM truth, c_s, tot)
        |SELECT blocking_key, n_a, n_b, n_true, n_true_blocked, n_cand,
        |       (n_true_blocked * 1000000 // greatest(n_true, 1))::BIGINT
        |         AS pair_completeness_e6,
        |       (((n_a::HUGEINT * n_b - n_cand) * 1000000)
        |        // greatest(n_a::HUGEINT * n_b, 1))::BIGINT
        |         AS reduction_ratio_e6,
        |       (n_true_blocked * 1000000 // greatest(n_cand, 1))::BIGINT
        |         AS precision_e6
        |FROM rows_ ORDER BY blocking_key""".stripMargin,

    "link_survivorship" ->
      """WITH clean AS (
        |  SELECT c_custkey AS a_key, c_name AS a_name,
        |         c_nationkey AS a_nation,
        |         floor(c_acctbal * 100 + 0.5)::BIGINT AS a_cents
        |  FROM customer),
        |dirty AS (
        |  SELECT c_custkey AS b_key,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs1'), 1, 4))::BIGINT % 10 = 0
        |         THEN substr(c_name, 1, length(c_name) - 1) ELSE c_name END AS b_name,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs2'), 1, 4))::BIGINT % 20 = 0
        |         THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS b_nation,
        |    floor((c_acctbal +
        |      (('0x' || substr(md5(c_custkey::VARCHAR || ':fs3'), 1, 4))::BIGINT % 11 - 5))
        |      * 100 + 0.5)::BIGINT AS b_cents
        |  FROM customer),
        |st AS (
        |  SELECT a_key AS k, 1 AS src, a_name AS nm, a_nation AS nat,
        |         a_cents AS cents FROM clean
        |  UNION ALL
        |  SELECT b_key, 2, b_name, b_nation, b_cents FROM dirty)
        |SELECT k AS custkey, count(*)::BIGINT AS n_records,
        |       arg_max(nm, length(nm)) AS name_golden,
        |       arg_min(nat, src) AS nation_golden,
        |       (((sum(cents) + 1) - ((sum(cents) + 1) % 2 + 2) % 2) // 2)
        |         ::BIGINT AS acct_golden_cents,
        |       (count(DISTINCT nm) - 1 + count(DISTINCT nat) - 1 +
        |        count(DISTINCT cents) - 1)::BIGINT AS n_conflicts
        |FROM st GROUP BY k ORDER BY custkey""".stripMargin,

    "link_survivorship3" ->
      """WITH clean AS (
        |  SELECT c_custkey AS a_key, c_name AS a_name,
        |         c_nationkey AS a_nation,
        |         floor(c_acctbal * 100 + 0.5)::BIGINT AS a_cents
        |  FROM customer),
        |dirty AS (
        |  SELECT c_custkey AS b_key,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs1'), 1, 4))::BIGINT % 10 = 0
        |         THEN substr(c_name, 1, length(c_name) - 1) ELSE c_name END AS b_name,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs2'), 1, 4))::BIGINT % 20 = 0
        |         THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS b_nation,
        |    floor((c_acctbal +
        |      (('0x' || substr(md5(c_custkey::VARCHAR || ':fs3'), 1, 4))::BIGINT % 11 - 5))
        |      * 100 + 0.5)::BIGINT AS b_cents
        |  FROM customer),
        |third AS (
        |  SELECT c_custkey AS t_key,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':sv1'), 1, 4))::BIGINT % 7 = 0
        |         THEN substr(c_name, 1, length(c_name) - 2) ELSE c_name END AS t_name,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs2'), 1, 4))::BIGINT % 20 = 0
        |         THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS t_nation,
        |    floor((c_acctbal +
        |      (('0x' || substr(md5(c_custkey::VARCHAR || ':sv3'), 1, 4))::BIGINT % 11 - 5))
        |      * 100 + 0.5)::BIGINT AS t_cents
        |  FROM customer),
        |st AS (
        |  SELECT a_key AS k, 1 AS src, a_name AS nm, a_nation AS nat,
        |         a_cents AS cents FROM clean
        |  UNION ALL
        |  SELECT b_key, 2, b_name, b_nation, b_cents FROM dirty
        |  UNION ALL
        |  SELECT t_key, 3, t_name, t_nation, t_cents FROM third),
        |maj AS (
        |  SELECT k, arg_max(nat, cnt * 10 - best_src) AS nation_majority
        |  FROM (SELECT k, nat, count(*) AS cnt, min(src) AS best_src
        |        FROM st GROUP BY k, nat)
        |  GROUP BY k),
        |agg AS (
        |  SELECT k, count(*)::BIGINT AS n_records,
        |         arg_max(nm, length(nm)) AS name_golden,
        |         arg_min(nat, src) AS nation_trust,
        |         sum(cents) AS sc,
        |         (count(DISTINCT nm) - 1 + count(DISTINCT nat) - 1 +
        |          count(DISTINCT cents) - 1)::BIGINT AS n_conflicts
        |  FROM st GROUP BY k)
        |SELECT k AS custkey, n_records, name_golden, nation_majority,
        |       nation_trust,
        |       (nation_majority <> nation_trust)::INT AS majority_ne_trust,
        |       (((2*sc + 3) - ((2*sc + 3) % 6 + 6) % 6) // 6)::BIGINT
        |         AS acct_golden_cents,
        |       n_conflicts
        |FROM agg JOIN maj USING (k) ORDER BY custkey""".stripMargin,

    "link_fellegi_sunter" ->
      """WITH clean AS (
        |  SELECT c_custkey AS a_key, c_name AS a_name,
        |         c_nationkey AS a_nation, c_mktsegment AS a_seg,
        |         floor(c_acctbal / 500.0)::BIGINT AS a_bucket
        |  FROM customer),
        |dirty AS (
        |  SELECT c_custkey AS b_key,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs1'), 1, 4))::BIGINT % 10 = 0
        |         THEN substr(c_name, 1, length(c_name) - 1) ELSE c_name END AS b_name,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs2'), 1, 4))::BIGINT % 20 = 0
        |         THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS b_nation,
        |    c_mktsegment AS b_seg,
        |    floor((c_acctbal +
        |      (('0x' || substr(md5(c_custkey::VARCHAR || ':fs3'), 1, 4))::BIGINT % 11 - 5))
        |      / 500.0)::BIGINT AS b_bucket
        |  FROM customer),
        |u_name AS (SELECT sum(nv * nv)::DOUBLE / (sum(nv) * sum(nv)) AS u_name
        |  FROM (SELECT count(*) AS nv FROM clean GROUP BY a_name)),
        |u_nation AS (SELECT sum(nv * nv)::DOUBLE / (sum(nv) * sum(nv)) AS u_nation
        |  FROM (SELECT count(*) AS nv FROM clean GROUP BY a_nation)),
        |u_bucket AS (SELECT sum(nv * nv)::DOUBLE / (sum(nv) * sum(nv)) AS u_bucket
        |  FROM (SELECT count(*) AS nv FROM clean GROUP BY a_bucket)),
        |pat AS (
        |  SELECT (a_name = b_name)::INT AS ag_name,
        |         1 AS ag_nation,
        |         (a_bucket = b_bucket)::INT AS ag_bucket,
        |         count(*) AS n_pairs,
        |         sum((a_key = b_key)::INT)::BIGINT AS n_true
        |  FROM clean JOIN dirty
        |    ON a_seg = b_seg AND a_nation = b_nation
        |  GROUP BY 1, 2, 3)
        |SELECT ag_name, ag_nation, ag_bucket, n_pairs, n_true,
        |  round((
        |    (CASE WHEN ag_name = 1 THEN ln(0.95 / u_name)
        |          ELSE ln(0.05 / (1 - u_name)) END +
        |     CASE WHEN ag_nation = 1 THEN ln(0.95 / u_nation)
        |          ELSE ln(0.05 / (1 - u_nation)) END +
        |     CASE WHEN ag_bucket = 1 THEN ln(0.95 / u_bucket)
        |          ELSE ln(0.05 / (1 - u_bucket)) END) / ln(2.0)), 6) AS score_r6
        |FROM pat, u_name, u_nation, u_bucket
        |ORDER BY score_r6 DESC, ag_name, ag_bucket""".stripMargin,

    "link_em_weights" ->
      """WITH clean AS (
        |  SELECT c_custkey AS a_key, c_name AS a_name,
        |         c_nationkey AS a_nation, c_mktsegment AS a_seg,
        |         floor(c_acctbal / 500.0)::BIGINT AS a_bucket
        |  FROM customer),
        |dirty AS (
        |  SELECT c_custkey AS b_key,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs1'), 1, 4))::BIGINT % 10 = 0
        |         THEN substr(c_name, 1, length(c_name) - 1) ELSE c_name END AS b_name,
        |    CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR || ':fs2'), 1, 4))::BIGINT % 20 = 0
        |         THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS b_nation,
        |    c_mktsegment AS b_seg,
        |    floor((c_acctbal +
        |      (('0x' || substr(md5(c_custkey::VARCHAR || ':fs3'), 1, 4))::BIGINT % 11 - 5))
        |      / 500.0)::BIGINT AS b_bucket
        |  FROM customer),
        |pat AS (
        |  SELECT (a_name = b_name)::INT AS ag_name,
        |         (a_bucket = b_bucket)::INT AS ag_bucket,
        |         count(*) AS n_pairs
        |  FROM clean JOIN dirty
        |    ON a_seg = b_seg AND a_nation = b_nation
        |  GROUP BY 1, 2),
        |r1g AS (
        |  SELECT ag_name, ag_bucket, n_pairs,
        |    (0.5::DOUBLE
        |       * (CASE WHEN ag_name = 1 THEN 0.9::DOUBLE ELSE 1.0::DOUBLE - 0.9::DOUBLE END)
        |       * (CASE WHEN ag_bucket = 1 THEN 0.9::DOUBLE ELSE 1.0::DOUBLE - 0.9::DOUBLE END))
        |    / ((0.5::DOUBLE
        |       * (CASE WHEN ag_name = 1 THEN 0.9::DOUBLE ELSE 1.0::DOUBLE - 0.9::DOUBLE END)
        |       * (CASE WHEN ag_bucket = 1 THEN 0.9::DOUBLE ELSE 1.0::DOUBLE - 0.9::DOUBLE END))
        |      + ((1.0::DOUBLE - 0.5::DOUBLE)
        |       * (CASE WHEN ag_name = 1 THEN 0.1::DOUBLE ELSE 1.0::DOUBLE - 0.1::DOUBLE END)
        |       * (CASE WHEN ag_bucket = 1 THEN 0.1::DOUBLE ELSE 1.0::DOUBLE - 0.1::DOUBLE END)))
        |    AS g
        |  FROM pat),
        |p1 AS (
        |  SELECT sum(n_pairs * g) / sum(n_pairs) AS p,
        |         sum(n_pairs * g * ag_name) / sum(n_pairs * g) AS m1,
        |         sum(n_pairs * (1.0::DOUBLE - g) * ag_name)
        |           / sum(n_pairs * (1.0::DOUBLE - g)) AS u1,
        |         sum(n_pairs * g * ag_bucket) / sum(n_pairs * g) AS m2,
        |         sum(n_pairs * (1.0::DOUBLE - g) * ag_bucket)
        |           / sum(n_pairs * (1.0::DOUBLE - g)) AS u2
        |  FROM r1g),
        |r2g AS (
        |  SELECT ag_name, ag_bucket, n_pairs,
        |    (p * (CASE WHEN ag_name = 1 THEN m1 ELSE 1.0::DOUBLE - m1 END)
        |       * (CASE WHEN ag_bucket = 1 THEN m2 ELSE 1.0::DOUBLE - m2 END))
        |    / ((p * (CASE WHEN ag_name = 1 THEN m1 ELSE 1.0::DOUBLE - m1 END)
        |       * (CASE WHEN ag_bucket = 1 THEN m2 ELSE 1.0::DOUBLE - m2 END))
        |      + ((1.0::DOUBLE - p)
        |       * (CASE WHEN ag_name = 1 THEN u1 ELSE 1.0::DOUBLE - u1 END)
        |       * (CASE WHEN ag_bucket = 1 THEN u2 ELSE 1.0::DOUBLE - u2 END)))
        |    AS g
        |  FROM pat CROSS JOIN p1),
        |p2 AS (
        |  SELECT sum(n_pairs * g) / sum(n_pairs) AS p2,
        |         sum(n_pairs * g * ag_name) / sum(n_pairs * g) AS m1f,
        |         sum(n_pairs * (1.0::DOUBLE - g) * ag_name)
        |           / sum(n_pairs * (1.0::DOUBLE - g)) AS u1f,
        |         sum(n_pairs * g * ag_bucket) / sum(n_pairs * g) AS m2f,
        |         sum(n_pairs * (1.0::DOUBLE - g) * ag_bucket)
        |           / sum(n_pairs * (1.0::DOUBLE - g)) AS u2f
        |  FROM r2g)
        |SELECT ag_name, ag_bucket, n_pairs,
        |       round(g, 6) AS g2_r6,
        |       round(p2, 6) AS p_r6,
        |       round(m1f, 6) AS m_name_r6,
        |       round(u1f, 6) AS u_name_r6,
        |       round(m2f, 6) AS m_bucket_r6,
        |       round(u2f, 6) AS u_bucket_r6
        |FROM r2g CROSS JOIN p2
        |ORDER BY ag_name, ag_bucket""".stripMargin
  )
}
