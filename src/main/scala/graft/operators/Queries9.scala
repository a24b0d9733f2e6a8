package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-6 batch: corpus-curation operators — deterministic balanced
  * sampling (per-stratum quotas) and token-budget corpus assembly (the
  * greedy fill that builds a training mix under a hard budget).
  *
  * Oracle-parity conventions as in [[Queries]]: identical aliases both
  * sides, CAST integer sums to BIGINT, integer math where exactness
  * matters, full ORDER BY tie-breaks.
  */
object Queries9 {

  private def t(dir: String, name: String)(implicit s: SparkSession): DataFrame =
    Rel.t(dir, name)

  /** q143: docs kept per language stratum. */
  private val QuotaPerLang = 50

  /** q146: leading embedding dims entering the Gram expansion (d(d+1)/2 =
    * 136 pairs per vector — the pair vocabulary, NOT the corpus, sizes
    * the shuffle; the full 64-dim matrix is the same plan at 2080 keys). */
  private val CovDims = 16

  /** q144: whitespace-token budget per source. */
  private val TokenBudget = 20000L

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- deterministic balanced sample: keep the QuotaPerLang docs with
    // the smallest (hash, doc_id) per language — hash order is as-good-as-
    // random but REPRODUCIBLE across runs, engines, and partitionings (the
    // q89 split discipline applied to stratified downsampling: no rand(),
    // no sampleBy seed drift). The window ranks only a (lang, hash, id)
    // projection — 16 bytes/row crosses the shuffle, never the text. At
    // 100 TB swap the per-stratum sort for the bounded
    // [[graft.functions.TopKAggregator]] (same result, map-side top-k
    // state instead of a full partition sort — the rank is total because
    // (h, doc_id) is unique).
    "q143_balanced_sample" -> { (s, dir) => implicit val sp = s
      val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      t(dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.portableHash28(concat(lit("bal:"), col("doc_id").cast("string"))).as("h"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= QuotaPerLang)
        .select(col("lang"), col("rk").cast("long").as("rk"), col("doc_id"), col("h"))
        .orderBy(col("lang"), col("rk"))
    },

    // ---- embedding-dimension covariance/correlation (the PCA/whitening
    // precursor): the exact Gram matrix over the first CovDims quantized
    // dims. Each vector map-side expands to its d(d+1)/2 upper-triangle
    // products, so the ONLY shuffle is keyed by the 136-pair vocabulary —
    // corpus size never touches the exchange (the q123/q106 vocabulary-
    // collapse rule applied to linear algebra). Covariance numerator
    // n·Σxy − Σx·Σy and the correlation denominator assemble from exact
    // longs through a fixed IEEE tree (the q118/q134 discipline), so the
    // APPROXIMATE-looking statistic is bit-reproducible. Overflow: |qv| ≤
    // 512 ⇒ Σxy ≤ 2.62e5·n — safe to ~3.5e13 vectors; n·Σxy needs n² ≤
    // 2^63/2.62e5 ⇒ n ≤ sqrt(3.52e13) ≈ 5.9e6 vectors, THE binding bound
    // (documented; past it pre-scale qv to 2^7 or lift to DECIMAL).
    "q146_dim_covariance" -> { (s, dir) => implicit val sp = s
      val qd = t(dir, "embeddings")
        // explicit density predicate BOTH sides: explode drops null/short
        // arrays silently while the oracle's range-unnest would keep the
        // positions — align the population before any expansion
        .filter(col("embedding").isNotNull && size(col("embedding")) >= CovDims)
        .select(col("vec_id"), expr(
          s"transform(slice(embedding, 1, $CovDims), x -> CAST(FLOOR(CAST(x AS DOUBLE) * 512) AS BIGINT))")
          .as("q"))
      val pairs = qd.select(explode(expr(
        s"""flatten(transform(q, (x, i) ->
           |  transform(slice(q, i + 1, $CovDims), (y, j) ->
           |    struct(i + 1 AS di, i + j + 1 AS dj, x * y AS xy, x AS xv, y AS yv))))"""
          .stripMargin)).as("p"))
        .select(col("p.di").cast("long").as("di"), col("p.dj").cast("long").as("dj"),
          col("p.xy"), col("p.xv"), col("p.yv"))
      pairs.groupBy(col("di"), col("dj"))
        .agg(count(lit(1)).as("n"), sum(col("xy")).as("sxy"),
          sum(col("xv")).as("sx"), sum(col("yv")).as("sy"),
          sum(col("xv") * col("xv")).as("sxx"), sum(col("yv") * col("yv")).as("syy"))
        .filter(col("di") < col("dj"))
        // corr RAW (no round — the q118 precedent: identical IEEE op trees
        // on identical longs are bit-identical; round(.,6) would reopen
        // the half-way hazard). Zero-variance dims guard the ANSI double
        // divide with an EXACT integer predicate, yielding NULL both sides.
        .select(col("di"), col("dj"), col("n"), col("sxy"), col("sx"), col("sy"),
          when(col("n") * col("sxx") - col("sx") * col("sx") === 0L ||
               col("n") * col("syy") - col("sy") * col("sy") === 0L, lit(null))
            .otherwise((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
                * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("corr"))
        .orderBy(col("di"), col("dj"))
    },

    // ---- offline recommender evaluation: the ranking-metric battery
    // (hits@10, micro precision@10, MRR) for a deterministic popularity
    // recommender, scored against a TEMPORAL holdout — train on pre-1998
    // purchases, test on 1998+ (the only honest offline protocol; random
    // splits leak). Per customer: top-10 train parts by (count desc,
    // partkey) via a window over the PRE-AGGREGATED (cust, part) counts
    // (never the fact rows); hits = equi-join of the two small per-
    // customer sets. Exactness: reciprocal ranks sum as 2520/rank —
    // 2520 = lcm(1..10), so every 1/rank is an exact INTEGER and MRR's
    // order-dependent float sum never exists; the two final metrics are
    // one division each over exact sums.
    "q150_recsys_eval" -> { (s, dir) => implicit val sp = s
      val split = lit(883612800000000L) // 1998-01-01 UTC micros
      val fact = t(dir, "lineitem")
        .join(t(dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ts")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("custkey"), col("l_partkey").as("partkey"), col("ts"))
      val train = fact.filter(col("ts") < split)
        .groupBy(col("custkey"), col("partkey")).agg(count(lit(1)).as("cnt"))
      val rec = train
        .withColumn("rk", row_number().over(Window.partitionBy(col("custkey"))
          .orderBy(col("cnt").desc, col("partkey"))))
        .filter(col("rk") <= 10)
        .select(col("custkey"), col("partkey"), col("rk"))
      val test = fact.filter(col("ts") >= split)
        .select(col("custkey"), col("partkey")).distinct()
      val hits = rec.join(test, Seq("custkey", "partkey"))
        .groupBy(col("custkey"))
        .agg(count(lit(1)).as("n_hits"),
          expr("2520 div min(rk)").as("rr2520")) // lcm(1..10)/best rank
      val scored = rec.select(col("custkey")).distinct()
        .join(test.select(col("custkey")).distinct(), Seq("custkey")) // has both periods
        .join(hits, Seq("custkey"), "left")
        .select(col("custkey"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("rr2520"), lit(0L)).as("rr2520"))
      scored.agg(count(lit(1)).as("n_customers"),
          sum(col("n_hits")).as("total_hits"), sum(col("rr2520")).as("sum_rr2520"))
        .select(col("n_customers"), col("total_hits"), col("sum_rr2520"),
          (col("total_hits").cast("double") / (col("n_customers") * 10)).as("p_at_10"),
          (col("sum_rr2520").cast("double") / (col("n_customers") * 2520)).as("mrr"))
    },

    // ---- point-in-time SCD2 dimension join: every order resolves the
    // dimension version that was VALID AT its order date — the classic
    // warehouse read over slowly-changing dimensions. Versions are
    // synthesized deterministically (each customer upgrades tier at
    // 1998-01-01 + custkey%365 days), and the interval join is executed
    // as the q31 union+window AS-OF: dimension version-starts and facts
    // merge into ONE per-customer event stream, last(tier) carries the
    // active version forward — no range join, no interval explode; the
    // single shuffle is the per-customer window sort. Same-timestamp ties
    // are deterministic: a version starting AT the order's date applies
    // (dim kind 0 sorts before fact kind 1). Revenue in floor-cents.
    "q149_scd2_dimension_join" -> { (s, dir) => implicit val sp = s
      val base = lit(883612800000000L) // 1998-01-01 UTC micros
      val dayUs = 86400000000L
      val custs = t(dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val dimEvents = custs.select(col("c_custkey").as("custkey"),
          lit(0L).as("ts"), lit(0).as("kind"), lit("base").as("tier"),
          lit(null).cast("long").as("orderkey"), lit(null).cast("long").as("cents"))
        .unionByName(custs.select(col("c_custkey").as("custkey"),
          (base + (col("c_custkey") % 365) * dayUs).as("ts"), lit(0).as("kind"),
          lit("upgraded").as("tier"), lit(null).cast("long").as("orderkey"),
          lit(null).cast("long").as("cents")))
      val factEvents = t(dir, "orders").select(col("o_custkey").as("custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ts"), lit(1).as("kind"),
        lit(null).cast("string").as("tier"), col("o_orderkey").as("orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("custkey"))
        .orderBy(col("ts"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dimEvents.unionByName(factEvents)
        .withColumn("active_tier", last(col("tier"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .groupBy(col("active_tier").as("tier"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
        .orderBy(col("tier"))
    },

    // ---- merge-on-read snapshot read, oracle-gated: [[graft.sources
    // .MorRead]]'s Iceberg v2 visibility rules (position deletes at
    // data_seq <= delete_seq, equality deletes strictly below) applied to
    // tombstones synthesized deterministically from lineitem — every row
    // a (file=orderkey, pos=linenumber) cell with data_seq = 1 + ok%3,
    // position tombstones on partkey%97 rows with seq = 1 + (ok div 3)%3
    // — the two cycles are independent, so all nine (data_seq, pd_seq)
    // combinations INCLUDING EQUALITY occur and the <= boundary is
    // hash-gated (an == cycle offset would make <= and < agree
    // everywhere and gate nothing), equality tombstones at
    // seq 2 on partkey%131 keys (killing only seq-1 rows). The oracle
    // mirrors both anti joins as NOT EXISTS with the same seq predicates
    // — the read-path semantics themselves are what the hash gates.
    "q148_mor_snapshot_read" -> { (s, dir) => implicit val sp = s
      val li = t(dir, "lineitem")
      val data = li.select(
        col("l_orderkey").cast("string").as("file_path"),
        col("l_linenumber").cast("long").as("pos"),
        (lit(1L) + col("l_orderkey") % 3).as("data_seq"),
        col("l_partkey"), col("l_returnflag"),
        floor(col("l_quantity")).cast("long").as("qty"))
      val posDel = li.filter(col("l_partkey") % 97 === 0)
        .select(col("l_orderkey").cast("string").as("file_path"),
          col("l_linenumber").cast("long").as("pos"),
          (lit(1L) + expr("(l_orderkey div 3) % 3")).as("seq"))
      val eqDel = li.filter(col("l_partkey") % 131 === 0)
        .select(col("l_partkey")).distinct()
        .withColumn("seq", lit(2L))
      graft.sources.MorRead.applyDeletes(data, posDel, eqDel, Seq("l_partkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    // ---- two-sample Kolmogorov–Smirnov test: the exact distribution-
    // distance between the returned ('R') and accepted ('A') price
    // populations — the drift gate between cohorts (q133's chi² compares
    // binned shapes; KS compares the FULL CDFs with no binning choice).
    // Exactly integer until the last step: collapse to the price
    // histogram with per-cohort conditional counts (one map-side-combined
    // pass; the shuffle is distinct prices, not rows), cumsum both
    // cohorts in ONE [[StatOps.rangeCumsum]] pass (range-bucketed
    // partials + broadcast offsets — no single-task global window even
    // on an unbounded value domain), and maximize |cum1·n2 − cum2·n1| —
    // the KS numerator over the common denominator n1·n2, ONE division
    // at the end. Overflow: cum·n ≤ n1·n2 < 2^63 ⇒ safe to ~3e9 rows
    // per cohort; DECIMAL(38) past that (audit table).
    "q147_ks_test" -> { (s, dir) => implicit val sp = s
      val hist = t(dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .select(floor(col("l_extendedprice") * 100).cast("long").as("cents"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"),
          when(col("l_returnflag") === "A", 1L).otherwise(0L).as("a"))
        .groupBy(col("cents"))
        .agg(sum(col("r")).as("c1"), sum(col("a")).as("c2"))
      StatOps.rangeCumsum(hist, Nil, Seq("cents"),
          Seq("cum1" -> col("c1"), "cum2" -> col("c2")),
          StatOps.octaveBucket16(col("cents")))
        .agg(max(col("cum1_total")).as("n1"), max(col("cum2_total")).as("n2"),
          max(abs(col("cum1") * col("cum2_total")
            - col("cum2") * col("cum1_total"))).as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          (col("d_num").cast("double") / (col("n1") * col("n2"))).as("ks"))
    },

    // ---- mergeable quantile SKETCH — the third leg of the sketch family
    // (distinct: q35/q90/q138; frequency: q103; quantile: here). Bucket =
    // bit-length of floor-cents (log2 octaves via length(bin(x)) — the
    // q35 integer-rho trick applied to magnitudes), so the sketch is ≤64
    // counters per group: a pure partial aggregation, mergeable by
    // cell-wise addition at any tree depth, O(1) state at any corpus
    // size. The approximate quantile is the upper boundary 2^b of the
    // octave where the cumulative count crosses the rank — within one
    // octave (2x) of the exact value BY CONSTRUCTION, and the exact
    // rank quantile (the q35 histogram method) rides along so the
    // guarantee is oracle-VISIBLE: the gate hashes approx, exact, and
    // the ratio bound together.
    "q145_quantile_sketch" -> { (s, dir) => implicit val sp = s
      val wf = Window.partitionBy(col("flag"))
      val oct = t(dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .withColumn("b", length(bin(col("cents"))))
        .groupBy(col("flag"), col("b")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wf.orderBy(col("b"))))
        .withColumn("n", sum(col("c")).over(wf))
      val approx = oct.groupBy(col("flag"))
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("b"))).as("b50"),
          min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("b"))).as("b99"))
        .select(col("flag"),
          expr("shiftleft(1L, b50)").as("approx_p50_cents"),
          expr("shiftleft(1L, b99)").as("approx_p99_cents"))
      val exact = StatOps.rankQuantiles(t(dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents")))
      approx.join(exact, Seq("flag"))
        .select(col("flag").as("l_returnflag"),
          col("approx_p50_cents"), col("p50_cents"),
          // octave guarantee, oracle-visible: ratio in (100, 200] pct —
          // 200 EXACTLY when the quantile value is a power of two
          expr("(approx_p50_cents * 100) div p50_cents").as("p50_ratio_pct"),
          col("approx_p99_cents"), col("p99_cents"),
          expr("(approx_p99_cents * 100) div p99_cents").as("p99_ratio_pct"))
        .orderBy(col("l_returnflag"))
    },

    // ---- token-budget corpus assembly: per source, admit docs in quality
    // order (n_chars desc — the stand-in quality score; ties by doc_id)
    // until the running whitespace-token total would exceed the budget.
    // The running sum is an EXACT integer window over ints; the admission
    // predicate (cum <= budget) is the overshoot-EXCLUDE dual of the
    // compactor's overshoot-close rule — both disciplines pinned. Output
    // is the per-source admission summary: docs kept, tokens used, the
    // utilization as one division.
    "q144_token_budget_trim" -> { (s, dir) => implicit val sp = s
      // the admission cumsum rides [[StatOps.rangeCumsum]] in GROUPED mode:
      // `source` has ~5 values, so a partitionBy(source) window would hand
      // each task 20% of the corpus at any scale — the same wide-group
      // hazard as the q95/q147 global windows, just partitioned. Quality
      // order n_chars DESC becomes the ascending key (2^20 - n_chars)
      // (docs are < 1M chars; a larger constant only shifts buckets), so
      // the octave bucketing stays monotone in the admission order.
      val cum = StatOps.rangeCumsum(
        t(dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            size(split(col("text"), " ")).cast("long").as("toks"))
          .withColumn("neg_chars", lit(1048576) - col("n_chars")),
        Seq("source"), Seq("neg_chars", "doc_id"), Seq("cum" -> col("toks")),
        StatOps.octaveBucket16(col("neg_chars")))
      cum
        .filter(col("cum") <= TokenBudget)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), max(col("cum")).as("tokens_used"))
        // utilization in BASIS POINTS, floor-integer: tokens_used/budget
        // lands exactly on half-way decimals (1657/20000 = .08285), where
        // Spark's HALF_UP and DuckDB's rounding disagree — the integer
        // quotient can't
        .select(col("source"), col("n_docs"), col("tokens_used"),
          expr(s"(tokens_used * 10000) div ${TokenBudget}L").as("util_bp"))
        .orderBy(col("source"))
    },

    // ---- min/max scan pruning from REAL Iceberg manifest statistics,
    // end-to-end: per-"file" stats (8 price-range buckets) are written
    // through [[graft.sources.IcebergLayoutWriter]] as a complete v2
    // table layout — metadata.json → manifest list → Avro manifest whose
    // data_file records carry record_count + little-endian single-value
    // lower/upper bounds per the spec — then read back by
    // [[graft.sources.IcebergManifestSource.statsFromTableDir]] (the
    // distributed manifest scan + task-side bound decoding) and fed to
    // the pruning predicate price BETWEEN 30000 AND 60000. Buckets ARE
    // price ranges, so the bounds genuinely prune (files 0-1 and 6-7
    // skip). Everything is min/max/count round-tripped through IEEE/
    // two's-complement bytes — no arithmetic — so the DuckDB mirror over
    // lineitem is hash-exact. The stats collect is 8 rows (bounded
    // driver state feeding the fixture writer); the READ path is the
    // scalable one under test. q53 keeps the synthesized-stats shape;
    // this closes the real-bounds gap (VERDICT r6 missing #3).
    "q151_manifest_pruning" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource}
      val stats = t(dir, "lineitem")
        .groupBy(least(floor(col("l_extendedprice") / 12000).cast("long"), lit(7L))
          .as("fid"))
        .agg(count(lit(1)).as("rc"),
          min(col("l_extendedprice")).as("lo_p"), max(col("l_extendedprice")).as("hi_p"),
          min(col("l_orderkey")).as("lo_k"), max(col("l_orderkey")).as("hi_k"))
        .collect()
      val tblDir = TmpFixture.dir("q151", dir)
      IcebergLayoutWriter.writeTable(tblDir, stats.toSeq.map { r =>
        IcebergLayoutWriter.ManifestEntrySpec(
          status = 1, content = 0,
          filePath = s"file-${r.getLong(0)}.parquet",
          recordCount = r.getLong(1), sizeBytes = r.getLong(1) * 100L,
          lower = Map(1 -> IcebergLayoutWriter.boundDouble(r.getDouble(2)),
            2 -> IcebergLayoutWriter.boundLong(r.getLong(4))),
          upper = Map(1 -> IcebergLayoutWriter.boundDouble(r.getDouble(3)),
            2 -> IcebergLayoutWriter.boundLong(r.getLong(5))))
      })
      IcebergManifestSource.statsFromTableDir(s, tblDir.getPath, "t", Seq(
          (1, "price", org.apache.spark.sql.types.DoubleType),
          (2, "okey", org.apache.spark.sql.types.LongType)))
        .select(col("file_path"), col("record_count"),
          col("lo_price"), col("hi_price"), col("lo_okey"), col("hi_okey"),
          when(col("hi_price") < 30000.0 || col("lo_price") > 60000.0, 1L)
            .otherwise(0L).as("skip"))
        .orderBy(col("file_path"))
    },

    // ---- merge-on-read ROUND TRIP through a real on-disk v2 table:
    // where q148 synthesizes the (data, tombstone) RELATIONS, this writes
    // the actual FILES — two data parquet files as commits seq 1/2 (rows
    // sorted (orderkey, linenumber), so each row's position is its rank),
    // a position-delete file killing every 7th row of the seq-1 file, an
    // equality-delete file on partkey%131 keys — plus the manifests/
    // metadata via IcebergLayoutWriter, then reads the table back with
    // MorRead.readTable: manifest scan → _metadata.row_index positions →
    // sequence attachment → both visibility-gated anti joins. The DuckDB
    // oracle reconstructs the same table arithmetically (row_number-1 per
    // file = position) and applies the NOT-EXISTS duals: pos deletes hit
    // BOTH sequence 1 (2>1) — only file A is referenced — and eq deletes
    // hit ONLY sequence 1 (strict <). The whole loop is hash-gated.
    "q152_mor_table_roundtrip" -> { (s, dir) => implicit val sp = s
      import graft.sources.MorRead
      val tbl = MorFixture.table("q152", dir, equalityIds = Nil)
      MorRead.readTable(s, tbl.getPath, Seq("l_partkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    // ---- deterministic Bloom-filter runtime semi-join filter: the sketch
    // family's MEMBERSHIP leg (distinct q35/q138, frequency q103, quantile
    // q145 — now membership). Unlike q75's engine-opaque
    // `df.stat.bloomFilter`, this bloom is a RELATION of 63-bit words (the sign bit stays clear — DuckDB checks
    // left-shift overflow) both
    // engines compute bit-identically from the portable 28-bit hash (two
    // probes: h%4096, (h div 4096)%4096), so the FILTER ITSELF is
    // oracle-gated, not just its effect. Build side: urgent-1995 orders
    // (tiny) → ≤64-word bloom; probe side: every lineitem key tests via
    // two broadcast joins on the word index — map-side, no shuffle of the
    // fact table. Output pins the bloom contract cross-engine: zero false
    // negatives (a Bloom GUARANTEE, hash-gated), the false-positive count,
    // and the fp rate in floor basis points. At 100 TB the probe stays
    // map-side (the bloom is KBs broadcast); the build side's bit_or
    // aggregation is mergeable O(words) state — same discipline as the
    // HLL register table.
    "q153_bloom_filter_semijoin" -> { (s, dir) => implicit val sp = s
      val build = t(dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT"
          && year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey").as("k")).distinct()
      val bloom = build
        .select(TextOps.portableHash28(concat(lit("bf:"), col("k").cast("string"))).as("h"))
        .select(explode(array(expr("h % 4096"), expr("(h div 4096) % 4096"))).as("p"))
        .groupBy(expr("p div 63").as("w"))
        .agg(expr("bit_or(shiftleft(1L, CAST(p % 63 AS INT)))").as("bits"))
      val probes = t(dir, "lineitem")
        .select(col("l_orderkey").as("pk"))
        .withColumn("h",
          TextOps.portableHash28(concat(lit("bf:"), col("pk").cast("string"))))
        .withColumn("p1", expr("h % 4096"))
        .withColumn("p2", expr("(h div 4096) % 4096"))
      val tested = probes
        .join(broadcast(bloom.select(col("w").as("w1"), col("bits").as("bits1"))),
          expr("p1 div 63") === col("w1"), "left")
        .join(broadcast(bloom.select(col("w").as("w2"), col("bits").as("bits2"))),
          expr("p2 div 63") === col("w2"), "left")
        // arithmetic shiftright + & 1 reads the bit regardless of the sign
        // bit; a missing word (null bits) is an unset bit
        .withColumn("pass",
          coalesce(expr("(shiftright(bits1, CAST(p1 % 63 AS INT)) & 1) = 1"), lit(false))
            && coalesce(expr("(shiftright(bits2, CAST(p2 % 63 AS INT)) & 1) = 1"), lit(false)))
        .join(broadcast(build.withColumn("ex", lit(1))), col("pk") === col("k"), "left")
      tested.agg(
        count(lit(1)).as("n_probes"),
        count(col("ex")).as("n_exact"),
        expr("CAST(count(CASE WHEN pass THEN 1 END) AS BIGINT)").as("n_pass"),
        expr("CAST(count(CASE WHEN pass AND ex IS NULL THEN 1 END) AS BIGINT)").as("n_false_pos"),
        // the Bloom guarantee, oracle-visible: members NEVER fail the filter
        expr("CAST(count(CASE WHEN NOT pass AND ex IS NOT NULL THEN 1 END) AS BIGINT)").as("n_false_neg"))
        .select(col("n_probes"), col("n_exact"), col("n_pass"),
          col("n_false_pos"), col("n_false_neg"),
          // NULL when every probe is a member: Spark's div yields NULL on
          // /0 but DuckDB's // raises, so the guard must live on BOTH
          // engines for the gate to compare rather than error-diverge
          expr("CASE WHEN n_probes = n_exact THEN NULL " +
            "ELSE (n_false_pos * 10000) div (n_probes - n_exact) END").as("fp_bp"))
    },

    // ---- time travel (`VERSION AS OF`): a two-snapshot v2 layout —
    // snapshot 1 is the 8 price-bucket files, snapshot 2 is the
    // "compacted" table (bucket pairs merged into 4 files) — written
    // through IcebergLayoutWriter.writeTableSnapshots, then BOTH
    // snapshots read back by snapshot-id-pinned resolution
    // (statsFromTableDir(snapshotId=...)), plus the unpinned CURRENT read
    // which must equal snapshot 2 (tagged current_matches_s2, its
    // equality hash-gated). Per-snapshot rollups come from the decoded
    // manifest record counts, so the whole history surface — resolve →
    // pick snapshot → manifest scan → stats — is exercised against the
    // DuckDB arithmetic mirror. Metadata-sized end to end; the only
    // corpus pass is the 8-row stats aggregation feeding the writer.
    "q154_time_travel" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val stats = t(dir, "lineitem")
        .groupBy(least(floor(col("l_extendedprice") / 12000).cast("long"), lit(7L))
          .as("fid"))
        .agg(count(lit(1)).as("rc"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val snap1 = stats.map { case (fid, rc) =>
        ManifestEntrySpec(status = 1, content = 0, filePath = s"f$fid.parquet",
          recordCount = rc, sizeBytes = rc * 100L, sequenceNumber = 1L)
      }
      val snap2 = stats.groupBy(_._1 / 2).toSeq.sortBy(_._1).map { case (fid2, grp) =>
        val rc = grp.map(_._2).sum
        ManifestEntrySpec(status = 1, content = 0, filePath = s"c$fid2.parquet",
          recordCount = rc, sizeBytes = rc * 100L, sequenceNumber = 2L)
      }
      val tbl = TmpFixture.dir("q154", dir)
      IcebergLayoutWriter.writeTableSnapshots(tbl,
        Seq(1L -> snap1.toSeq, 2L -> snap2))
      def rollup(tag: Long, snapId: Option[Long]) =
        IcebergManifestSource.statsFromTableDir(s, tbl.getPath, "t", Nil, snapId)
          .agg(count(lit(1)).as("n_files"),
            sum(col("record_count")).as("total_records"),
            sum(col("sizeBytes")).as("total_size"),
            max(col("record_count")).as("max_file_records"))
          .select(lit(tag).as("snapshot_id"), col("n_files"),
            col("total_records"), col("total_size"), col("max_file_records"))
      // row 3 = the UNPINNED current read; the oracle emits snapshot 2's
      // rollup for id 3, so "current == latest snapshot" is hash-gated
      rollup(1L, Some(1L))
        .unionByName(rollup(2L, Some(2L)))
        .unionByName(rollup(3L, None))
        .orderBy(col("snapshot_id"))
    })

  def oracles: Map[String, String] = Map(
    "q154_time_travel" ->
      """WITH b AS (
        |  SELECT LEAST(CAST(FLOOR(l_extendedprice / 12000) AS BIGINT), 7) AS fid
        |  FROM lineitem),
        |s1 AS (SELECT fid, CAST(count(*) AS BIGINT) AS rc FROM b GROUP BY fid),
        |s2 AS (SELECT fid // 2 AS fid2, CAST(sum(rc) AS BIGINT) AS rc
        |       FROM s1 GROUP BY fid // 2),
        |r1 AS (SELECT CAST(1 AS BIGINT) AS snapshot_id,
        |  CAST(count(*) AS BIGINT) AS n_files, CAST(sum(rc) AS BIGINT) AS total_records,
        |  CAST(sum(rc * 100) AS BIGINT) AS total_size, max(rc) AS max_file_records FROM s1),
        |r2 AS (SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(rc) AS BIGINT), CAST(sum(rc * 100) AS BIGINT), max(rc) FROM s2),
        |r3 AS (SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(rc) AS BIGINT), CAST(sum(rc * 100) AS BIGINT), max(rc) FROM s2)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
        |ORDER BY snapshot_id""".stripMargin,

    "q153_bloom_filter_semijoin" ->
      """WITH build AS (
        |  SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1995),
        |bh AS (
        |  SELECT CAST('0x' || substring(md5('bf:' || CAST(k AS VARCHAR)), 1, 7) AS BIGINT) AS h
        |  FROM build),
        |bp AS (
        |  SELECT h % 4096 AS p FROM bh
        |  UNION ALL SELECT (h // 4096) % 4096 FROM bh),
        |bloom AS (
        |  SELECT p // 63 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
        |  FROM bp GROUP BY p // 63),
        |probes AS (
        |  SELECT l_orderkey AS pk,
        |    CAST('0x' || substring(md5('bf:' || CAST(l_orderkey AS VARCHAR)), 1, 7) AS BIGINT) AS h
        |  FROM lineitem),
        |t AS (SELECT pk, h % 4096 AS p1, (h // 4096) % 4096 AS p2 FROM probes),
        |tested AS (
        |  SELECT pk,
        |    COALESCE((b1.bits >> CAST(p1 % 63 AS INT)) & 1 = 1, false)
        |      AND COALESCE((b2.bits >> CAST(p2 % 63 AS INT)) & 1 = 1, false) AS pass,
        |    pk IN (SELECT k FROM build) AS ex
        |  FROM t
        |  LEFT JOIN bloom b1 ON p1 // 63 = b1.w
        |  LEFT JOIN bloom b2 ON p2 // 63 = b2.w)
        |SELECT CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(count(CASE WHEN ex THEN 1 END) AS BIGINT) AS n_exact,
        |  CAST(count(CASE WHEN pass THEN 1 END) AS BIGINT) AS n_pass,
        |  CAST(count(CASE WHEN pass AND NOT ex THEN 1 END) AS BIGINT) AS n_false_pos,
        |  CAST(count(CASE WHEN NOT pass AND ex THEN 1 END) AS BIGINT) AS n_false_neg,
        |  CASE WHEN count(*) = count(CASE WHEN ex THEN 1 END) THEN NULL
        |    ELSE (count(CASE WHEN pass AND NOT ex THEN 1 END) * 10000)
        |      // (count(*) - count(CASE WHEN ex THEN 1 END)) END AS fp_bp
        |FROM tested""".stripMargin,

    "q152_mor_table_roundtrip" ->
      """WITH sub AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
        |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
        |    l_orderkey % 2 AS fid
        |  FROM lineitem WHERE l_orderkey % 100 < 4),
        |posd AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY fid
        |      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS pos,
        |    CASE WHEN fid = 0 THEN 1 ELSE 2 END AS seq
        |  FROM sub),
        |alive AS (
        |  SELECT * FROM posd d
        |  WHERE NOT (d.fid = 0 AND d.pos % 7 = 0)
        |    AND NOT (d.l_partkey % 131 = 0 AND d.seq < 2))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM alive GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q151_manifest_pruning" ->
      """SELECT 'file-' || CAST(fid AS VARCHAR) || '.parquet' AS file_path,
        |  CAST(count(*) AS BIGINT) AS record_count,
        |  min(l_extendedprice) AS lo_price, max(l_extendedprice) AS hi_price,
        |  CAST(min(l_orderkey) AS BIGINT) AS lo_okey,
        |  CAST(max(l_orderkey) AS BIGINT) AS hi_okey,
        |  CAST(CASE WHEN max(l_extendedprice) < 30000.0
        |    OR min(l_extendedprice) > 60000.0 THEN 1 ELSE 0 END AS BIGINT) AS skip
        |FROM (SELECT *,
        |  LEAST(CAST(FLOOR(l_extendedprice / 12000) AS BIGINT), 7) AS fid
        |  FROM lineitem)
        |GROUP BY fid ORDER BY file_path""".stripMargin,

    "q143_balanced_sample" ->
      s"""WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substring(md5('bal:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT lang, doc_id, h,
        |        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        |      FROM h)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, h
        |FROM r WHERE rk <= ${QuotaPerLang}
        |ORDER BY lang, rk""".stripMargin,

    "q150_recsys_eval" ->
      """WITH fact AS (
        |  SELECT o_custkey AS custkey, l_partkey AS partkey,
        |    epoch_us(o_orderdate) AS ts
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |train AS (
        |  SELECT custkey, partkey, count(*) AS cnt
        |  FROM fact WHERE ts < 883612800000000 GROUP BY custkey, partkey),
        |rec AS (
        |  SELECT custkey, partkey, rk FROM (
        |    SELECT custkey, partkey,
        |      row_number() OVER (PARTITION BY custkey
        |        ORDER BY cnt DESC, partkey) AS rk
        |    FROM train) WHERE rk <= 10),
        |test AS (
        |  SELECT DISTINCT custkey, partkey
        |  FROM fact WHERE ts >= 883612800000000),
        |hits AS (
        |  SELECT r.custkey, CAST(count(*) AS BIGINT) AS n_hits,
        |    2520 // min(r.rk) AS rr2520
        |  FROM rec r JOIN test t ON r.custkey = t.custkey AND r.partkey = t.partkey
        |  GROUP BY r.custkey),
        |scored AS (
        |  SELECT b.custkey, coalesce(h.n_hits, 0) AS n_hits,
        |    coalesce(h.rr2520, 0) AS rr2520
        |  FROM (SELECT DISTINCT r.custkey FROM rec r
        |        JOIN (SELECT DISTINCT custkey FROM test) t ON r.custkey = t.custkey) b
        |  LEFT JOIN hits h ON b.custkey = h.custkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(n_hits) AS BIGINT) AS total_hits,
        |  CAST(sum(rr2520) AS BIGINT) AS sum_rr2520,
        |  CAST(sum(n_hits) AS DOUBLE) / (count(*) * 10) AS p_at_10,
        |  CAST(sum(rr2520) AS DOUBLE) / (count(*) * 2520) AS mrr
        |FROM scored""".stripMargin,

    "q149_scd2_dimension_join" ->
      """WITH dim AS (
        |  SELECT c_custkey AS custkey, CAST(0 AS BIGINT) AS ts, 'base' AS tier
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 883612800000000 + (c_custkey % 365) * 86400000000,
        |    'upgraded'
        |  FROM customer),
        |f AS (
        |  SELECT o_custkey AS custkey, epoch_us(o_orderdate) AS ts,
        |    o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT d.tier, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(f.cents) AS BIGINT) AS cents
        |FROM f
        |ASOF JOIN dim d ON f.custkey = d.custkey AND d.ts <= f.ts
        |GROUP BY d.tier ORDER BY d.tier""".stripMargin,

    "q148_mor_snapshot_read" ->
      """WITH data AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS file_path,
        |    CAST(l_linenumber AS BIGINT) AS pos,
        |    1 + l_orderkey % 3 AS data_seq,
        |    l_partkey, l_returnflag,
        |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem),
        |pd AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS file_path,
        |    CAST(l_linenumber AS BIGINT) AS pos,
        |    1 + (l_orderkey // 3) % 3 AS seq
        |  FROM lineitem WHERE l_partkey % 97 = 0),
        |ed AS (
        |  SELECT DISTINCT l_partkey AS id, 2 AS seq
        |  FROM lineitem WHERE l_partkey % 131 = 0),
        |surv AS (
        |  SELECT * FROM data d
        |  WHERE NOT EXISTS (SELECT 1 FROM pd
        |          WHERE pd.file_path = d.file_path AND pd.pos = d.pos
        |            AND d.data_seq <= pd.seq)
        |    AND NOT EXISTS (SELECT 1 FROM ed
        |          WHERE ed.id = d.l_partkey AND d.data_seq < ed.seq))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM surv GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q147_ks_test" ->
      """WITH cents AS (
        |  SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r,
        |    CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS a
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        |hist AS (
        |  SELECT cents, CAST(sum(r) AS BIGINT) AS c1, CAST(sum(a) AS BIGINT) AS c2
        |  FROM cents GROUP BY cents),
        |cum AS (
        |  SELECT
        |    sum(c1) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |    sum(c2) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
        |    sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
        |  FROM hist)
        |SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
        |  CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
        |  CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
        |    / (CAST(max(n1) AS BIGINT) * max(n2)) AS ks
        |FROM cum""".stripMargin,

    "q146_dim_covariance" ->
      s"""WITH pe AS (
         |  SELECT vec_id, unnest(range(1, $CovDims + 1)) AS pos, embedding
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) >= $CovDims),
         |qd AS (
         |  SELECT vec_id, pos,
         |    CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 512) AS BIGINT) AS qv
         |  FROM pe),
         |pr AS (
         |  SELECT a.pos AS di, b.pos AS dj, a.qv AS xv, b.qv AS yv
         |  FROM qd a JOIN qd b ON a.vec_id = b.vec_id AND a.pos < b.pos),
         |agg AS (
         |  SELECT di, dj, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(xv * yv) AS BIGINT) AS sxy,
         |    CAST(sum(xv) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
         |    CAST(sum(xv * xv) AS BIGINT) AS sxx, CAST(sum(yv * yv) AS BIGINT) AS syy
         |  FROM pr GROUP BY di, dj)
         |SELECT di, dj, n, sxy, sx, sy,
         |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
         |       ELSE CAST(n * sxy - sx * sy AS DOUBLE)
         |         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS corr
         |FROM agg ORDER BY di, dj""".stripMargin,

    "q145_quantile_sketch" ->
      """WITH cents AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |oct AS (
        |  SELECT flag, length(bin(cents)) AS b, count(*) AS c
        |  FROM cents GROUP BY flag, b),
        |octc AS (
        |  SELECT flag, b, c,
        |    sum(c) OVER (PARTITION BY flag ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY flag) AS n
        |  FROM oct),
        |approx AS (
        |  SELECT flag,
        |    CAST(1 AS BIGINT) << CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN b END) AS INT)
        |      AS approx_p50_cents,
        |    CAST(1 AS BIGINT) << CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN b END) AS INT)
        |      AS approx_p99_cents
        |  FROM octc GROUP BY flag),
        |hist AS (
        |  SELECT flag, cents, count(*) AS c FROM cents GROUP BY flag, cents),
        |histc AS (
        |  SELECT flag, cents,
        |    sum(c) OVER (PARTITION BY flag ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY flag) AS n
        |  FROM hist),
        |ex AS (
        |  SELECT flag,
        |    CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN cents END) AS BIGINT) AS p50_cents,
        |    CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN cents END) AS BIGINT) AS p99_cents
        |  FROM histc GROUP BY flag)
        |SELECT approx.flag AS l_returnflag,
        |  approx.approx_p50_cents, ex.p50_cents,
        |  CAST((approx.approx_p50_cents * 100) // ex.p50_cents AS BIGINT) AS p50_ratio_pct,
        |  approx.approx_p99_cents, ex.p99_cents,
        |  CAST((approx.approx_p99_cents * 100) // ex.p99_cents AS BIGINT) AS p99_ratio_pct
        |FROM approx JOIN ex ON approx.flag = ex.flag
        |ORDER BY l_returnflag""".stripMargin,

    "q144_token_budget_trim" ->
      s"""WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (SELECT source, doc_id, toks,
        |        sum(toks) OVER (PARTITION BY source
        |          ORDER BY n_chars DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(cum) AS BIGINT) AS tokens_used,
        |  CAST((max(cum) * 10000) // ${TokenBudget} AS BIGINT) AS util_bp
        |FROM c WHERE cum <= ${TokenBudget}
        |GROUP BY source ORDER BY source""".stripMargin)
}
