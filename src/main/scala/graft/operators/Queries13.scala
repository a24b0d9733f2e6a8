package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 batch 2: the training-data curation operators that were still
  * missing from the family —
  *
  *  - span-level exact-substring dedup (the Lee et al. 2021
  *    "Deduplicating Training Data Makes Language Models Better" shape:
  *    duplicated SPANS, not duplicated documents, q221),
  *  - Gopher-style repetition quality gates (Rae et al. 2021 §A1.1:
  *    duplicate-word and top-bigram fractions, q222),
  *  - hybrid lexical+dense retrieval fused with reciprocal-rank fusion
  *    (Cormack et al. 2009, q223),
  *  - perceptual-hash image dedup where the dHash runs over pixels that
  *    made a REAL round trip through the PNG codec (q224),
  *  - corpus audio statistics over samples that made a REAL round trip
  *    through the PCM-16 WAV codec (q225),
  *  - DSIR-flavored importance resampling (Xie et al. 2023, with a
  *    rational ratio surrogate in place of the log-likelihood difference
  *    so the score is cross-engine exact, q226).
  *
  * Oracle-parity conventions as in [[Queries]]: identical aliases both
  * sides, integer arithmetic everywhere an unordered sum exists, one
  * final correctly-rounded double op (/, sqrt) for any ratio, full ORDER
  * BY tie-breaks. The two codec queries (q224/q225) are the strongest
  * gate the multimodal layer has: the Spark side derives its numbers
  * from DECODED bytes (synthesize → encode → decode → measure), the
  * DuckDB side from the synthesis formula alone — any codec defect
  * breaks the hash match.
  */
object Queries13 {

  private def t(dir: String, name: String)(implicit s: SparkSession): DataFrame =
    Rel.t(dir, name)

  // ---- q221 fixture: every 50th doc gets a "plagiarized" twin that
  // copies its first 150 chars and appends a unique tail. The twin is
  // NOT an exact duplicate (whole-doc dedup misses it); span dedup must
  // find the copied leading windows. Shared by query and oracle shape.
  private val SpanW = 50
  private val SpanS = 25

  private def spanCorpus(dir: String)(implicit s: SparkSession): DataFrame = {
    val base = t(dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"))
    val plag = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("source"),
        concat(substring(col("text"), 1, 150), lit(" unique tail "),
          col("doc_id").cast("string")).as("text"))
    base.unionAll(plag)
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- span-level exact-substring dedup (Lee et al. 2021): fixed
    // 50-char windows at stride 25 are the distributed stand-in for the
    // suffix-array scan — every duplicated region >= W+S chars is
    // guaranteed to contain at least one aligned window, so cross-doc
    // copied REGIONS are caught even when neither document is a
    // whole-doc duplicate (the fixture's plagiarized twins share only
    // their first 150 chars). One shuffle on the span text (at 100 TB
    // you'd key on a 128-bit span hash to shrink exchange width — same
    // plan shape); the first occurrence in (doc_id, pos) order keeps
    // the span, every later occurrence is duplicated text. Aggregated
    // per source: how much of each slice of the corpus is copy.
    "q221_span_dedup" -> { (s, dir) => implicit val sp = s
      val corpus = spanCorpus(dir)
        .withColumn("n", length(col("text")))
        .filter(col("n") >= SpanW)
      val spans = corpus.select(col("doc_id"), col("source"),
          explode(expr(
            s"transform(sequence(1, cast((n - $SpanW) div $SpanS as int) + 1), " +
              s"i -> struct((i - 1) * $SpanS + 1 AS pos, " +
              s"substring(text, (i - 1) * $SpanS + 1, $SpanW) AS span))")).as("sp"))
        .select(col("doc_id"), col("source"),
          col("sp.pos").as("pos"), col("sp.span").as("span"))
      val w = Window.partitionBy(col("span"))
        .orderBy(col("doc_id"), col("pos"))
      spans.withColumn("rn", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_spans"),
          countDistinct(when(col("rn") > 1, col("doc_id"))).as("n_dup_docs"))
        .orderBy(col("source"))
    },

    // ---- Gopher-style repetition quality gate (Rae et al. 2021 §A1.1,
    // adapted to newline-free docs): per doc the duplicate-word fraction
    // (1 - distinct/total) and the top-bigram fraction, both as exact
    // basis points (integer div — no cross-engine float). distinct-word
    // count is ROW-LOCAL (array_distinct — no shuffle); the top bigram
    // needs one (doc, bigram) count + per-doc max, the only shuffle, and
    // it is map-side combined. A doc fails the gate when either fraction
    // breaches its threshold — the Gopher numbers are 20%+ for top
    // 2-grams; this low-entropy synthetic corpus sits far above real
    // text, so thresholds are calibrated to split it meaningfully.
    "q222_repetition_filter" -> { (s, dir) => implicit val sp = s
      val docs = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
        .withColumn("nw", size(col("toks")).cast("long"))
        .filter(col("nw") >= 2)
        .withColumn("ndw", size(array_distinct(col("toks"))).cast("long"))
      val bigrams = docs.select(col("doc_id"),
          explode(expr("transform(sequence(1, cast(nw as int) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
            .as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("topbg"))
      docs.join(bigrams, "doc_id")
        .withColumn("dupw_bp", expr("(10000 * (nw - ndw)) div nw"))
        .withColumn("topbg_bp", expr("(10000 * topbg) div (nw - 1)"))
        .withColumn("flagged",
          col("dupw_bp") > 8500L || col("topbg_bp") > 700L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
          max(col("dupw_bp")).as("max_dupw_bp"),
          max(col("topbg_bp")).as("max_topbg_bp"))
        .orderBy(col("lang"))
    },

    // ---- hybrid retrieval with reciprocal-rank fusion (RRF, k=60):
    // a lexical ranker (summed term frequency over the query doc's
    // DISTINCT terms — integer, so the rank is cross-engine exact) and
    // a dense ranker (full-precision cosine over the embedding vectors;
    // float32→double casts are exact and the dot is a left-to-right
    // fold, the q29 discipline) are fused per query doc:
    // rrf = 1/(60+r_lex) + 1/(60+r_dense), a fixed two-term double sum.
    // Ranks are row_numbers with doc_id tie-breaks. At 100 TB each
    // ranker would top-k prune before the fusion join (rank windows per
    // query over candidates, not the corpus); the fusion itself stays
    // rank-sized. Missing from a ranker's candidate list contributes 0.
    "q223_rrf_hybrid" -> { (s, dir) => implicit val sp = s
      val docs = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val queries = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"),
          array_distinct(col("toks")).as("qterms"))
      // lexical: explode corpus terms and join the query term sets
      // (broadcast — queries are few) BEFORE any shuffle: non-query
      // terms die map-side (guide §3.2), and since qterms are distinct
      // per query, count per (qid, doc) == Σ tf over matched terms —
      // the old tf pre-aggregation's extra full-corpus shuffle computed
      // term counts the fusion never read (r16: two ~10M-row exchanges
      // folded into one post-filter exchange)
      val lex = docs.select(col("doc_id"), explode(col("toks")).as("term"))
        .join(broadcast(queries.select(col("qid"),
          explode(col("qterms")).as("term"))), "term")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(count(lit(1)).as("score_lex"))
        .withColumn("r_lex", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score_lex").desc, col("doc_id"))).cast("long"))
      // dense: exact double cosine, q29 discipline
      val e = t(dir, "embeddings").select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("v"))
        .withColumn("nrm",
          sqrt(graft.functions.DoubleArrayDot.doubleDot(col("v"), col("v"))))
      val qe = e.join(broadcast(queries.select(col("qid"))),
          col("vec_id") === col("qid"))
        .select(col("qid"), col("v").as("qv"), col("nrm").as("qn"))
      val dense = e.join(broadcast(qe), col("vec_id") =!= col("qid"))
        .withColumn("cos",
          graft.functions.DoubleArrayDot.doubleDot(col("v"), col("qv"))
            / (col("nrm") * col("qn")))
        .select(col("qid"), col("vec_id").as("doc_id"), col("cos"))
        .withColumn("r_dense", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("doc_id"))).cast("long"))
      lex.select(col("qid"), col("doc_id"), col("r_lex"))
        .join(dense.select(col("qid"), col("doc_id"), col("r_dense")),
          Seq("qid", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("r_lex")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("r_dense")), lit(0.0)))
        .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("doc_id"),
          col("r_lex"), col("r_dense"), round(col("rrf"), 6).as("rrf"))
        .orderBy(col("qid"), col("rank"))
    },

    // ---- perceptual-hash image dedup THROUGH the real PNG codec: each
    // selected doc synthesizes a deterministic 9x8 grayscale-in-RGB
    // image, encodes it to a REAL PNG (zlib + filters + CRCs), decodes
    // it back, and computes a 63-bit dHash plus a pixel checksum from
    // the DECODED bytes. Docs in the same doc_id/7 family share the
    // base pattern with a per-doc +c brightness offset — a brightness
    // shift flips no adjacent-pixel comparison, so dHash groups them
    // (the point of a perceptual hash; exact byte dedup would not).
    // The oracle recomputes both numbers from the synthesis formula —
    // the query matches ONLY if the PNG round trip is pixel-exact.
    // Per-row projection (no shuffle until the dhash groupBy); at
    // 100 TB the decode batches partition-wise like all multimodal ops.
    "q224_dhash_image_dedup" -> { (s, dir) => implicit val sp = s
      val dh = udf { (docId: Long) =>
        val base = docId / 7; val c = (docId % 7).toInt
        val w = 9; val h = 8
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = (((base * 1009L + x * 97L + y * 31L) % 239L) + c).toInt
            val i = (y * w + x) * 3
            rgb(i) = v.toByte; rgb(i + 1) = v.toByte; rgb(i + 2) = v.toByte
            x += 1
          }
          y += 1
        }
        import graft.multimodal.RealCodec
        val png = RealCodec.encodePng(RealCodec.Image(w, h, rgb))
        val img = RealCodec.decodePng(png)
        require(img.width == w && img.height == h, "png roundtrip shape")
        def g(x: Int, yy: Int): Int = img.rgb((yy * w + x) * 3) & 0xFF
        var dhash = 0L; var b = 0
        while (b < 63) {
          if (g(b % 8 + 1, b / 8) > g(b % 8, b / 8)) dhash |= 1L << b
          b += 1
        }
        var ps = 0L; var i = 0
        while (i < w * h) { ps += (img.rgb(i * 3) & 0xFF); i += 1 }
        (dhash, ps)
      }
      t(dir, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), dh(col("doc_id")).as("r"))
        .select(col("doc_id"), col("r._1").as("dhash"), col("r._2").as("pixsum"))
        .groupBy(col("dhash"))
        .agg(count(lit(1)).as("n_imgs"), min(col("doc_id")).as("rep_doc"),
          sum(col("pixsum")).as("total_pixsum"))
        .orderBy(col("rep_doc"))
    },

    // ---- corpus audio statistics THROUGH the real WAV codec: each
    // selected doc synthesizes a deterministic PCM-16 waveform (length
    // keyed to n_chars), encodes a REAL RIFF/WAVE file, decodes it
    // back, and measures energy / peak / zero crossings from the
    // DECODED samples — all integer, so sums are partitioning-proof.
    // The oracle recomputes from the sample formula: a single flipped
    // bit anywhere in the 44-byte header walk or the sample
    // (de)serialization breaks the match. Per-row projection + one
    // map-side-combined groupBy.
    "q225_audio_stats" -> { (s, dir) => implicit val sp = s
      val au = udf { (docId: Long, nChars: Long) =>
        val n = (64 + nChars % 128).toInt
        val samples = new Array[Short](n)
        var i = 0
        while (i < n) {
          samples(i) =
            (((docId + 1) * (i + 1) * 2654435761L) % 65536L - 32768L).toShort
          i += 1
        }
        import graft.multimodal.RealCodec
        val wav = RealCodec.encodeWav(RealCodec.Wav(1, 16000, samples))
        val dec = RealCodec.decodeWav(wav)
        require(dec.samples.length == n && dec.sampleRate == 16000, "wav roundtrip")
        var sumAbs = 0L; var maxAbs = 0L; var zc = 0L
        i = 0
        while (i < n) {
          val v = dec.samples(i).toLong
          val a = math.abs(v)
          sumAbs += a; if (a > maxAbs) maxAbs = a
          if (i > 0 && ((v >= 0) != (dec.samples(i - 1) >= 0))) zc += 1
          i += 1
        }
        (n.toLong, sumAbs, maxAbs, zc)
      }
      t(dir, "documents").filter(col("doc_id") % 3 === 0)
        .select(col("source"), au(col("doc_id"), col("n_chars")).as("r"))
        .groupBy(col("source"))
        .agg(sum(col("r._1")).as("total_samples"),
          sum(col("r._2")).as("total_abs"),
          max(col("r._3")).as("max_amp"),
          sum(col("r._4")).as("total_zc"))
        .orderBy(col("source"))
    },

    // ---- DSIR-flavored importance resampling (Xie et al. 2023): score
    // every doc by how target-like its hashed unigram profile is, keep
    // the top 100. Features are 256 hashed buckets (portable md5-prefix
    // hash); the target model is lang='en'. The published method scores
    // log p_target(x) - log p_raw(x); here the surrogate is the exact
    // rational Σ(c_t[b(w)]+1) / Σ(c_r[b(w)]+1) — same ordering intent,
    // but both sums are int64 so the one double division (correctly
    // rounded, identical operands) makes the ranking cross-engine
    // exact. Bucket tables are 256 rows → broadcast; scoring is
    // map-side; the global top-100 is orderBy+limit, which Spark plans
    // as TakeOrderedAndProject — per-partition top-k then a k-sized
    // merge, bounded state at any corpus size (a global row_number
    // window here would be the single-task anti-pattern PlanScan
    // rejects).
    "q226_dsir_select" -> { (s, dir) => implicit val sp = s
      val docs = t(dir, "documents").filter(col("text").isNotNull)
      val words = docs.select(col("doc_id"), col("lang"), col("source"),
        explode(split(col("text"), " ")).as("w"))
        .withColumn("b", TextOps.portableHash28(col("w")) % 256)
      val ct = words.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("c_t"))
      val cr = words.groupBy(col("b")).agg(count(lit(1)).as("c_r"))
      val scored = words
        .join(broadcast(ct), Seq("b"), "left")
        .join(broadcast(cr), Seq("b"), "left")
        .groupBy(col("doc_id"), col("lang"), col("source"))
        .agg(sum(coalesce(col("c_t"), lit(0L)) + 1L).as("num"),
          sum(coalesce(col("c_r"), lit(0L)) + 1L).as("den"))
        .withColumn("ratio", col("num").cast("double") / col("den").cast("double"))
      scored
        .orderBy(col("ratio").desc, col("doc_id")).limit(100)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_selected"),
          round(min(col("ratio")), 6).as("min_sel_ratio"))
        .orderBy(col("lang"))
    },

    // ---- mixed-format lakehouse table: Iceberg data files may be
    // PARQUET, ORC, or AVRO per manifest entry (`file_format`); this
    // table carries one parquet commit, one ORC commit (real
    // `.orc` files, format recorded in the manifest and dispatched by
    // the reader), and one equality-delete commit whose key tombstones
    // apply to BOTH formats (eq deletes are key-matched, so they need
    // no row ordinals — position deletes, which do, route targeted ORC
    // files through the ordinal-carrying scan: q259). The read back resolves the
    // delete keys from the manifests' spec `equality_ids`. The oracle
    // recomputes from the raw parquet sources — the match proves the
    // ORC write/read round trip and the cross-format MOR application.
    "q227_orc_mixed_format" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val li = t(dir, "lineitem").select(col("l_orderkey").as("k"),
        col("l_partkey").as("pk"),
        floor(col("l_quantity")).cast("long").as("qty"))
      val tbl = TmpFixture.dir("q227", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      val pf = new java.io.File(dataDir, "slice-a.parquet")
      val nP = IcebergLayoutWriter.writeSingleParquet(
        IcebergLayoutWriter.sortedSingle(li.filter(col("k") % 4 === 1),
          col("k"), col("pk"), col("qty")), pf)
      IcebergLayoutWriter.writeTable(tbl, Seq(ManifestEntrySpec(
        status = 1, content = 0, filePath = pf.getAbsolutePath,
        recordCount = nP, sizeBytes = pf.length(), sequenceNumber = 1L)))
      val of = new java.io.File(dataDir, "slice-b.orc")
      val nO = IcebergLayoutWriter.writeSingleOrc(
        IcebergLayoutWriter.sortedSingle(li.filter(col("k") % 4 === 2),
          col("k"), col("pk"), col("qty")), of)
      require(nO > 0, "ORC slice must be non-empty")
      LayoutMaintenance.commitAppend(s, tbl.getPath, Seq(ManifestEntrySpec(
        status = 1, content = 0, filePath = of.getAbsolutePath,
        recordCount = nO, sizeBytes = of.length(), fileFormat = "ORC")))
      // the manifest must RECORD the format — the reader dispatches on it
      val formats = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil)
        .filter(col("content") === 0)
        .select(col("file_format")).distinct().collect().map(_.getString(0)).toSet
      require(formats == Set("PARQUET", "ORC"),
        s"mixed-format manifest broke: $formats")
      // key tombstones spanning both formats (one change row per key, all D)
      val dels = li.filter((col("k") % 4 === 1 || col("k") % 4 === 2)
          && col("k") % 7 === 3)
        .groupBy(col("k")).agg(min(col("pk")).as("pk"), min(col("qty")).as("qty"))
        .withColumn("op", lit("D"))
      val (snap, _, nDel) = LayoutMaintenance.commitMerge(
        s, tbl.getPath, dels, Seq("k"), "op")
      require(snap == 3L && nDel > 0, s"delete commit broke: $snap del=$nDel")
      // eq keys resolved from the manifests' spec equality_ids
      MorRead.readTable(s, tbl.getPath)
        .groupBy((col("pk") % 10).as("band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
        .orderBy(col("band"))
    },

    // ---- normalization uplift audit: how many MORE duplicate docs
    // does exact dedup find after canonicalization (lowercase, strip
    // non-alphanumerics, collapse whitespace)? The fixture plants
    // case/punctuation-mangled twins that raw hashing misses; uplift =
    // norm_dup_docs - raw_dup_docs per source. The production question
    // this answers: is your dedup key normalization pulling its weight.
    // Map-only normalization + two hash-keyed groupBys — the q14 shape
    // twice; at 100 TB each dedup pass is one shuffle on a digest.
    "q228_normalization_uplift" -> { (s, dir) => implicit val sp = s
      val base = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      // every 40th doc gets a shouting twin: uppercased + punctuation
      val noisy = base.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"), col("source"),
          concat(upper(col("text")), lit(" !!")).as("text"))
      val corpus = base.unionAll(noisy)
        .withColumn("norm", trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
      def dupDocs(keyCol: String) = corpus
        .withColumn("k", col(keyCol))
        .withColumn("grp_n", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("k"))))
        .filter(col("grp_n") > 1)
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n"))
      corpus.select(col("source")).distinct()
        .join(dupDocs("text").withColumnRenamed("n", "raw_dup_docs"),
          Seq("source"), "left")
        .join(dupDocs("norm").withColumnRenamed("n", "norm_dup_docs"),
          Seq("source"), "left")
        .na.fill(0L, Seq("raw_dup_docs", "norm_dup_docs"))
        .withColumn("uplift", col("norm_dup_docs") - col("raw_dup_docs"))
        .orderBy(col("source"))
    },

    // ---- Population Stability Index (PSI) of the doc-length
    // distribution, per source vs the whole corpus — the standard
    // "has this slice drifted" gate between corpus releases. Buckets
    // are integer length/64; both distributions Laplace-smoothed; each
    // bucket's (p-q)·ln(p/q) term quantizes to micro-units BEFORE the
    // per-source sum (the q182 integer-micro-nats discipline: an
    // unordered float sum would be partitioning-dependent in the last
    // ulp). Bucket tables are vocabulary-collapsed (≤ ~10 rows each);
    // everything shuffles at bucket grain, never row grain.
    "q229_psi_drift" -> { (s, dir) => implicit val sp = s
      val d = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("source"), expr("n_chars div 64").as("bkt"))
      val buckets = d.select(col("bkt")).distinct()
      val srcTot = d.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      val corpTot = d.agg(count(lit(1)).as("nc"))
      val sb = d.groupBy(col("source"), col("bkt")).agg(count(lit(1)).as("cs"))
      val cb = d.groupBy(col("bkt")).agg(count(lit(1)).as("cc"))
      val nb = buckets.agg(count(lit(1)).as("b"))
      // dense (source × bucket) grid so zero-count buckets still smooth
      srcTot.crossJoin(broadcast(buckets))
        .join(sb, Seq("source", "bkt"), "left")
        .join(broadcast(cb), Seq("bkt"), "left")
        .crossJoin(broadcast(corpTot)).crossJoin(broadcast(nb))
        .withColumn("p", (coalesce(col("cs"), lit(0L)) + 1L).cast("double")
          / (col("ns") + col("b")))
        .withColumn("q", (coalesce(col("cc"), lit(0L)) + 1L).cast("double")
          / (col("nc") + col("b")))
        .withColumn("term_micro",
          floor((col("p") - col("q")) * log(col("p") / col("q")) * 1e6).cast("long"))
        .groupBy(col("source"))
        .agg(sum(col("term_micro")).as("psi_micro"),
          count(lit(1)).cast("long").as("n_buckets"))
        .orderBy(col("source"))
    },

    // ---- RAG chunking: fixed 200-char windows at stride 150 (50-char
    // overlap), the retrieval-corpus preparation step. Pure per-row
    // expansion (transform+explode — no shuffle, no UDF); every chunk
    // carries its offset, length, and a whitespace token estimate, so a
    // downstream embedder can budget batches. Output restricted to a
    // deterministic doc sample to stay row-bounded; the full-corpus
    // version is the same projection.
    "q230_rag_chunks" -> { (s, dir) => implicit val sp = s
      val W = 200; val S = 150
      t(dir, "documents").filter(col("text").isNotNull && col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text"), length(col("text")).as("n"))
        .select(col("doc_id"),
          explode(expr(
            s"transform(sequence(1, cast((n - 1) div $S as int) + 1), " +
              s"i -> struct((i - 1) * $S + 1 AS pos, " +
              s"substring(text, (i - 1) * $S + 1, $W) AS chunk))")).as("c"))
        .select(col("doc_id"), col("c.pos").cast("long").as("pos"),
          length(col("c.chunk")).cast("long").as("chunk_len"),
          (length(col("c.chunk"))
            - length(regexp_replace(col("c.chunk"), " ", "")) + 1L)
            .cast("long").as("n_tokens"))
        .orderBy(col("doc_id"), col("pos"))
    },

    // ---- int8 scalar-quantization audit: symmetric per-vector int8
    // (scale = max|v|, q = floor(127·v/scale + 0.5)) with exact
    // reconstruction-error accounting — the embedding-compression
    // decision (4x memory cut vs recall risk) made measurable. All
    // folds are left-to-right array ops on exact float→double casts
    // (the q29 discipline), and per-vector errors quantize to integer
    // nano/micro units BEFORE the group sum, so the audit is
    // bit-identical at any partitioning. Map-only until a label-grain
    // aggregate.
    "q231_int8_quant_audit" -> { (s, dir) => implicit val sp = s
      t(dir, "embeddings").filter(col("embedding").isNotNull)
        .select(col("label"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("v"))
        .withColumn("scale",
          expr("aggregate(v, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
        .filter(col("scale") > 0)
        .withColumn("dq", expr(
          "transform(v, x -> FLOOR(127 * x / scale + 0.5) * scale / 127)"))
        .withColumn("sse", expr(
          "aggregate(zip_with(v, dq, (a, b) -> (a - b) * (a - b)), " +
            "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"))
        .withColumn("maxe", expr(
          "aggregate(zip_with(v, dq, (a, b) -> abs(a - b)), " +
            "CAST(0 AS DOUBLE), (acc, x) -> greatest(acc, x))"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(floor(col("sse") * 1e9).cast("long")).as("total_sse_nano"),
          max(floor(col("maxe") * 1e6).cast("long")).as("max_err_micro"))
        .orderBy(col("label"))
    },

    // ---- rewrite_position_deletes (delete-file compaction): three
    // predicate DELETE commits accrete three position-tombstone files;
    // the rewrite folds them into ONE and the table state is pinned
    // bit-identical across it IN-QUERY (portable row checksum before ==
    // after), then the post-rewrite state is oracle-checked against a
    // direct recomputation. The 100 TB point: a steady DELETE stream
    // otherwise makes every MOR read open O(delete-commits) tombstone
    // files; this fold keeps it O(1).
    "q232_rewrite_pos_deletes" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val base = t(dir, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = TmpFixture.dir("q232", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      val bf = new java.io.File(dataDir, "base.parquet")
      val nB = IcebergLayoutWriter.writeSingleParquet(
        IcebergLayoutWriter.sortedSingle(base, col("k")), bf)
      IcebergLayoutWriter.writeTable(tbl, Seq(ManifestEntrySpec(status = 1,
        content = 0, filePath = bf.getAbsolutePath, recordCount = nB,
        sizeBytes = bf.length(), sequenceNumber = 1L)))
      Seq(11L, 13L, 17L).foreach { m =>
        LayoutMaintenance.commitDeleteWhere(s, tbl.getPath, col("k") % m === 0)
      }
      def checksum(): Long = MorRead.readTable(s, tbl.getPath)
        .agg(sum(TextOps.portableHash28(concat_ws("|",
          col("k"), col("prio"), col("cents")))).as("c"))
        .head().getLong(0)
      val before = checksum()
      val (_, nOld, nNew, nPairs) =
        LayoutMaintenance.rewritePositionDeletes(s, tbl.getPath)
      require(nOld == 3 && nNew == 1 && nPairs > 0,
        s"compaction shape broke: $nOld -> $nNew ($nPairs pairs)")
      require(checksum() == before,
        "rewrite_position_deletes must not change table state")
      MorRead.readTable(s, tbl.getPath)
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("prio"))
    },

    // ---- cherry-pick: the write-audit-publish ending fastForward can't
    // handle — the head ADVANCED while the staged snapshot sat in audit.
    // Stage rows A on a branch (head stays put), land rows B on the head,
    // then cherry-pick the staged snapshot: its additions (the entries
    // stamped with its own sequence number) re-commit on TODAY's head,
    // so the final state is base+B+A and the staged snapshot remains in
    // history for audit. Three metadata-sized commits, zero data
    // movement — the oracle recomputes the union.
    "q233_cherry_pick" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MorRead}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val cust = t(dir, "customer").select(col("c_custkey").as("ck"),
        col("c_nationkey").as("nat"),
        floor(col("c_acctbal")).cast("long").as("bal"))
      val tbl = TmpFixture.dir("q233", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      def writeSlice(name: String, mod: Int): (java.io.File, Long) = {
        val f = new java.io.File(dataDir, s"$name.parquet")
        val n = IcebergLayoutWriter.writeSingleParquet(
          IcebergLayoutWriter.sortedSingle(
            cust.filter(col("ck") % 4 === mod), col("ck")), f)
        (f, n)
      }
      // the three slice writes are independent jobs — overlap them
      // (guide §2.6); the table/stage/append COMMITS stay sequential
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fut0 = Future(writeSlice("base", 0))
      val futA = Future(writeSlice("staged-a", 1))
      val futB = Future(writeSlice("later-b", 2))
      val (f0, n0) = Await.result(fut0, Duration.Inf)
      IcebergLayoutWriter.writeTable(tbl, Seq(ManifestEntrySpec(status = 1,
        content = 0, filePath = f0.getAbsolutePath, recordCount = n0,
        sizeBytes = f0.length(), sequenceNumber = 1L)))
      val (fa, na) = Await.result(futA, Duration.Inf)
      val staged = LayoutMaintenance.stageAppend(s, tbl.getPath,
        Seq(ManifestEntrySpec(status = 1, content = 0,
          filePath = fa.getAbsolutePath, recordCount = na,
          sizeBytes = fa.length())), branch = "audit")
      // the head ADVANCES while the stage is in audit
      val (fb, nb) = Await.result(futB, Duration.Inf)
      LayoutMaintenance.commitAppend(s, tbl.getPath,
        Seq(ManifestEntrySpec(status = 1, content = 0,
          filePath = fb.getAbsolutePath, recordCount = nb,
          sizeBytes = fb.length())))
      val head = LayoutMaintenance.cherryPick(s, tbl.getPath, staged)
      require(head == 4L, s"cherry-pick head should be 4, got $head")
      MorRead.readTable(s, tbl.getPath)
        .groupBy(col("nat"))
        .agg(count(lit(1)).as("n_customers"), sum(col("bal")).as("sum_bal"))
        .orderBy(col("nat"))
    },

    // ---- temperature-balanced multilingual resampling (the mT5/XLM-R
    // recipe): sample languages with probability ∝ share^(1/T); at T=2
    // the power is an exact sqrt, so the whole computation stays
    // cross-engine bit-identical. Per-doc keep decision: portable-hash
    // uniform u < (N/Σ√c)·√c_l/c_l · 2^28 — head langs downsample, tail
    // langs keep more of their mass. The Σ√c fold runs over the
    // lang-sorted count list (collect → sort → left fold), so a 5-term
    // double sum can't vary with grouping order. Broadcast lang table;
    // the decision is map-side; output is lang-grain.
    "q234_temperature_sampling" -> { (s, dir) => implicit val sp = s
      val d = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"))
      val cnts = d.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val ssum = cnts.agg(expr(
        "aggregate(sort_array(collect_list(struct(lang, c))), " +
          "CAST(0 AS DOUBLE), (a, x) -> a + sqrt(CAST(x.c AS DOUBLE)))")
        .as("ssum"))
      d.join(broadcast(cnts), Seq("lang"))
        .crossJoin(broadcast(ssum))
        .withColumn("u", TextOps.portableHash28(
          concat(lit("temp:"), col("doc_id").cast("string"))).cast("double"))
        .withColumn("keep", col("u") <
          lit(300.0) / col("ssum") / sqrt(col("c").cast("double"))
            * lit(268435456.0))
        .groupBy(col("lang"))
        .agg(max(col("c")).as("n_orig"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("lang"))
    },

    // ---- retention drop as a METADATA-ONLY operation: a month-
    // partitioned table built by pure SQL, then `DELETE FROM … WHERE
    // mon <= 3` — the partition-transform full-coverage proof
    // ([[graft.sources.v2]] GraftPrune.fullyCovers) turns the statement
    // into one snapshot swap that REMOVES the covered files. The
    // in-query requires pin the mechanism: the post-delete file set is
    // a strict subset of the pre-delete set (nothing was written — no
    // COW rewrite, no tombstones), sized exactly by the surviving
    // months. At 100 TB this is dropping a retention window in one
    // metadata swap instead of rewriting it. The oracle recomputes the
    // surviving aggregate from raw orders.
    "q235_retention_drop" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q235wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ret")
      s.sql(s"DROP TABLE IF EXISTS $cat.ret.events")
      s.sql(s"CREATE TABLE $cat.ret.events " +
        "(mon BIGINT, okey BIGINT, price BIGINT) USING `graft-iceberg` " +
        "PARTITIONED BY (mon) " +
        "TBLPROPERTIES ('pushdown.fields'='mon:1:long')")
      t(dir, "orders")
        .select(month(col("o_orderdate")).cast("long").as("mon"),
          col("o_orderkey").as("okey"),
          floor(col("o_totalprice")).cast("long").as("price"))
        .createOrReplaceTempView("q235_src")
      s.sql(s"INSERT INTO $cat.ret.events SELECT * FROM q235_src")
      val tblDir = new java.io.File(new java.io.File(wh, "ret"), "events")
      def files(): Set[String] = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tblDir.getPath, "t", Nil)
        .filter(col("content") === 0)
        .select("file_path").collect().map(_.getString(0)).toSet
      val before = files()
      require(before.size == 12, s"one file per month expected: $before")
      s.sql(s"DELETE FROM $cat.ret.events WHERE mon <= 3")
      val after = files()
      require(after.subsetOf(before) && after.size == 9, // months 4..12
        s"metadata-only retention drop broke: ${after.size} files, " +
          s"new=${(after -- before).take(2)}")
      s.sql(s"""SELECT mon, count(*) AS n_orders, sum(price) AS sum_price
        |FROM $cat.ret.events GROUP BY mon ORDER BY mon""".stripMargin)
    },

    // ---- Zipf-law audit: the rank-frequency slope of each language's
    // vocabulary (natural text sits near -1; a synthetic or templated
    // corpus shows up immediately). Least-squares fit of ln(freq) on
    // ln(rank) over the top 20 terms, with every log floored to integer
    // micro-nats BEFORE the sums (the q182 discipline) so all five
    // regression sums are exact int64 and the slope is ONE division of
    // exact integers. The rank window runs over the vocabulary-collapsed
    // (lang, word) counts — thousands of rows at any corpus size.
    "q236_zipf_slope" -> { (s, dir) => implicit val sp = s
      val tf = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      val ranked = tf.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
            .orderBy(col("c").desc, col("w"))).cast("long"))
        .filter(col("rk") <= 20)
        .withColumn("x", floor(log(col("rk").cast("double")) * 1e6).cast("long"))
        .withColumn("y", floor(log(col("c").cast("double")) * 1e6).cast("long"))
      ranked.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("lang"), col("n_terms"),
          round((col("n_terms") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (col("n_terms") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 6).as("slope"))
        .orderBy(col("lang"))
    },

    // ---- perceptual NEAR-duplicate image pairs: dHashes computed
    // through the REAL PNG codec (the q224 pipeline, plus a per-doc
    // single-pixel defect so family members differ by a few bits
    // instead of colliding exactly), then banded LSH over the 63-bit
    // hash — 7 bands of 9 bits, so any pair within hamming distance 6
    // shares at least one clean band (pigeonhole: 6 errors cannot touch
    // 7 bands) and recall at the threshold is EXACT, not probabilistic.
    // Candidates equi-join on (band, key); the verify is one bit_count
    // of an xor. The oracle recomputes hashes from the synthesis
    // formula — codec round trip and banding algebra both hash-gated.
    "q237_image_neardup" -> { (s, dir) => implicit val sp = s
      val dh = udf { (docId: Long) =>
        val base = docId / 7
        val w = 9; val h = 8
        val (px, py) = ((docId % 9).toInt, (docId % 8).toInt)
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val bump = if (x == px && y == py) 12L else 0L
            val v = (((base * 2003L + x * 89L + y * 41L) % 211L) + bump).toInt
            val i = (y * w + x) * 3
            rgb(i) = v.toByte; rgb(i + 1) = v.toByte; rgb(i + 2) = v.toByte
            x += 1
          }
          y += 1
        }
        import graft.multimodal.RealCodec
        val img = RealCodec.decodePng(RealCodec.encodePng(RealCodec.Image(w, h, rgb)))
        def g(x: Int, yy: Int): Int = img.rgb((yy * w + x) * 3) & 0xFF
        var dhash = 0L; var b = 0
        while (b < 63) {
          if (g(b % 8 + 1, b / 8) > g(b % 8, b / 8)) dhash |= 1L << b
          b += 1
        }
        dhash
      }
      val imgs = t(dir, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), dh(col("doc_id")).as("dhash"))
      val bands = imgs.select(col("doc_id"), col("dhash"),
        explode(expr("transform(sequence(0, 6), " +
          "i -> struct(i AS band, shiftright(dhash, i * 9) & 511 AS bkey))"))
          .as("b"))
        .select(col("doc_id"), col("dhash"),
          col("b.band").as("band"), col("b.bkey").as("bkey"))
      bands.as("a").join(bands.as("bb"),
          col("a.band") === col("bb.band") && col("a.bkey") === col("bb.bkey")
            && col("a.doc_id") < col("bb.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("bb.doc_id").as("id_b"),
          expr("bit_count(a.dhash ^ bb.dhash)").cast("long").as("ham"))
        .distinct()
        .filter(col("ham") <= 6)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- audio fingerprint matching: the landmark idea behind audio
    // search engines reduced to its deterministic core — a 63-bit
    // energy-DELTA fingerprint (bit f = "frame f+1 is louder than frame
    // f", 64 frames × 16 PCM samples) computed from samples that made a
    // REAL RIFF/WAVE encode→decode round trip. Same-family docs share a
    // base waveform with a one-frame spike (≤2 flipped deltas), so
    // matching is a near-dup join: the q237 7×9-bit banding, recall
    // EXACT at hamming ≤ 6 by pigeonhole. Oracle recomputes fingerprints
    // from the synthesis formula — WAV codec + fingerprint algebra + LSH
    // all hash-gated. Per-row decode, equi-join candidates.
    "q238_audio_fingerprint" -> { (s, dir) => implicit val sp = s
      val fp = udf { (docId: Long) =>
        val n = 1024
        val samples = new Array[Short](n)
        var i = 1
        while (i <= n) {
          val spike = if ((i - 1) / 16 == (docId % 64).toInt) 500L else 0L
          samples(i - 1) =
            (((docId / 5 + 1) * i * 48271L) % 8192L - 4096L + spike).toShort
          i += 1
        }
        import graft.multimodal.RealCodec
        val dec = RealCodec.decodeWav(
          RealCodec.encodeWav(RealCodec.Wav(1, 16000, samples)))
        val e = new Array[Long](64)
        var f = 0
        while (f < 64) {
          var j = 0; var acc = 0L
          while (j < 16) { acc += math.abs(dec.samples(f * 16 + j).toLong); j += 1 }
          e(f) = acc; f += 1
        }
        var fpv = 0L; var b = 0
        while (b < 63) { if (e(b + 1) > e(b)) fpv |= 1L << b; b += 1 }
        fpv
      }
      val fps = t(dir, "documents").filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), fp(col("doc_id")).as("fp"))
      val bands = fps.select(col("doc_id"), col("fp"),
        explode(expr("transform(sequence(0, 6), " +
          "i -> struct(i AS band, shiftright(fp, i * 9) & 511 AS bkey))"))
          .as("b"))
        .select(col("doc_id"), col("fp"),
          col("b.band").as("band"), col("b.bkey").as("bkey"))
      bands.as("a").join(bands.as("bb"),
          col("a.band") === col("bb.band") && col("a.bkey") === col("bb.bkey")
            && col("a.doc_id") < col("bb.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("bb.doc_id").as("id_b"),
          expr("bit_count(a.fp ^ bb.fp)").cast("long").as("ham"))
        .distinct()
        .filter(col("ham") <= 6)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ---- commit audit from SNAPSHOT SUMMARIES alone: a four-operation
    // history (append → append → MERGE upsert → predicate DELETE →
    // rewrite), then the `$snapshots` metadata table's operation and
    // change-count columns — zero manifest I/O, the spec "Snapshots"
    // summary each commit recorded — hash-checked against a DuckDB
    // reconstruction of every count from the raw source. This is the
    // ops dashboard query ("what happened to this table, when, how
    // big") priced at one metadata-document read.
    "q239_commit_operations" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, LayoutMaintenance, MetadataTables}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val base = t(dir, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice")).cast("long").as("price"))
      val tbl = TmpFixture.dir("q239", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      def slice(name: String, f: org.apache.spark.sql.Column) = {
        val fl = new java.io.File(dataDir, s"$name.parquet")
        val n = IcebergLayoutWriter.writeSingleParquet(
          IcebergLayoutWriter.sortedSingle(base.filter(f), col("k")), fl)
        Seq(ManifestEntrySpec(status = 1, content = 0,
          filePath = fl.getAbsolutePath, recordCount = n,
          sizeBytes = fl.length()))
      }
      // the two slice writes are independent jobs — overlap them
      // (guide §2.6); the COMMITS stay strictly sequential below
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fa = Future(slice("a", col("k") % 3 === 0))
        val fb = Future(slice("b", col("k") % 3 === 1))
        LayoutMaintenance.commitAppend(s, tbl.getPath,
          Await.result(fa, Duration.Inf))                     // 1: creates
        LayoutMaintenance.commitAppend(s, tbl.getPath,
          Await.result(fb, Duration.Inf))                     // 2: append
      }
      LayoutMaintenance.commitUpsert(s, tbl.getPath,
        base.filter(col("k") % 30 === 0)
          .select(col("k"), (col("price") + 7L).as("price")),
        Seq("k"))                                             // 3: overwrite
      LayoutMaintenance.commitDeleteWhere(s, tbl.getPath,
        col("k") % 7 === 0)                                   // 4: delete
      LayoutMaintenance.rewriteDataFiles(s, tbl.getPath, Seq("k")) // 5: replace
      MetadataTables.snapshots(s, tbl.getPath)
        .filter(col("ordinal") >= 1) // snapshot 1 predates summaries only
        .select(col("ordinal").cast("long").as("ordinal"), col("operation"),
          col("added_data_files"), col("added_records"))
        .orderBy(col("ordinal"))
    },

    // ---- round-9 curation capstone: corpus curation through BOTH
    // SQL DELETE execution paths on one lang-partitioned catalog table.
    // Ingest clusters one file per language (hash write distribution)
    // with a per-doc duplicate-word score; `DELETE WHERE lang = 'zh'`
    // is provably partition-aligned → METADATA-ONLY (file set strictly
    // shrinks, pinned in-query); `DELETE WHERE dupw_bp > 8500` is NOT
    // aligned → the copy-on-write rewrite, touching only files that
    // contain matches. The final per-language rollup is hash-checked
    // against a recomputation from raw documents. At 100 TB: dropping a
    // language costs one metadata swap; the quality gate costs
    // O(affected files) — and both leave a clean tombstone-free table.
    "q240_curation_capstone" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q240wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cur")
      s.sql(s"DROP TABLE IF EXISTS $cat.cur.docs")
      s.sql(s"CREATE TABLE $cat.cur.docs " +
        "(lang STRING, doc_id BIGINT, n_chars BIGINT, dupw_bp BIGINT) " +
        "USING `graft-iceberg` PARTITIONED BY (lang)")
      t(dir, "documents").filter(col("text").isNotNull)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          split(col("text"), " ").as("toks"))
        .withColumn("nw", size(col("toks")).cast("long"))
        .filter(col("nw") >= 1)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          expr("(10000 * (nw - size(array_distinct(toks)))) div nw")
            .as("dupw_bp"))
        .createOrReplaceTempView("q240_src")
      s.sql(s"INSERT INTO $cat.cur.docs SELECT * FROM q240_src")
      val tblDir = new java.io.File(new java.io.File(wh, "cur"), "docs")
      def files(): Set[String] = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tblDir.getPath, "t", Nil)
        .filter(col("content") === 0)
        .select("file_path").collect().map(_.getString(0)).toSet
      val before = files()
      // gate 1: drop a whole language — partition-aligned, metadata-only
      s.sql(s"DELETE FROM $cat.cur.docs WHERE lang = 'zh'")
      val afterDrop = files()
      require(afterDrop.subsetOf(before) && afterDrop.size < before.size,
        s"lang drop must be metadata-only: ${afterDrop.size}/${before.size}")
      // gate 2: quality filter — not partition-aligned, copy-on-write
      s.sql(s"DELETE FROM $cat.cur.docs WHERE dupw_bp > 8500")
      s.sql(s"""SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |  max(dupw_bp) AS max_dupw_bp
        |FROM $cat.cur.docs GROUP BY lang ORDER BY lang""".stripMargin)
    },

    // ---- VIDEO scene-cut detection over REAL decoded frames: each
    // selected doc synthesizes a 12-frame grayscale animation with one
    // hard scene change (pattern A with per-frame motion, then pattern
    // B), encodes it as a REAL animated GIF (javax.imageio sequence
    // writer — GIF is lossless at <=256 gray levels), decodes every
    // frame back, and detects the cut as the argmax of frame-to-frame
    // absolute pixel delta — the shot-boundary primitive of video
    // curation. All integer; the oracle recomputes from the synthesis
    // formulas, so frame extraction through the container is
    // hash-gated. Per-row decode, one map-side-combined rollup.
    "q241_scene_cuts" -> { (s, dir) => implicit val sp = s
      val sc = udf { (docId: Long) =>
        val w = 9; val h = 8; val nF = 12
        val cut = (3 + docId % 7).toInt // scene B starts here
        def px(f: Int, x: Int, y: Int): Int =
          if (f < cut) ((docId / 7 * 53 + x * 29 + y * 13 + 3L * f) % 251L).toInt
          else ((docId / 7 * 71 + x * 41 + y * 23 + 3L * f + 128L) % 251L).toInt
        val frames = (0 until nF).map { f =>
          val a = new Array[Byte](w * h)
          var i = 0
          while (i < w * h) { a(i) = px(f, i % w, i / w).toByte; i += 1 }
          a
        }
        import graft.multimodal.RealCodec
        val dec = RealCodec.decodeGifGray(
          RealCodec.encodeGifGray(RealCodec.GrayAnimation(w, h, frames)))
        require(dec.frames.length == nF && dec.width == w, "gif roundtrip")
        def g(f: Int, i: Int): Int = dec.frames(f)(i) & 0xFF
        val deltas = (0 until nF - 1).map { f =>
          var acc = 0L; var i = 0
          while (i < w * h) { acc += math.abs(g(f + 1, i) - g(f, i)); i += 1 }
          acc
        }
        val maxD = deltas.max
        val cutAt = deltas.indexOf(maxD).toLong + 1 // first frame of scene B
        var tot = 0L
        for (f <- 0 until nF; i <- 0 until w * h) tot += g(f, i)
        (nF.toLong, cutAt, maxD, tot)
      }
      t(dir, "documents").filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), sc(col("doc_id")).as("r"))
        .select(col("doc_id"), col("r._1").as("n_frames"),
          col("r._2").as("cut_at"), col("r._3").as("max_delta"),
          col("r._4").as("total_intensity"))
        .withColumn("cut_correct", col("cut_at") === (lit(3L) + col("doc_id") % 7))
        .orderBy(col("doc_id"))
    },

    // ---- the WHOLE multimodal dispatch, oracle-gated: every selected
    // doc synthesizes a REAL payload in its modality — PNG image, PCM
    // WAV clip, or animated GIF — and the generic content-sniffed
    // feature extractor ([[graft.multimodal.Multimodal.extractFeatures]],
    // the partition-wise batched decode) must recover each one's true
    // dimensions and frame count through the actual codecs. The rollup
    // per kind (media counts, summed dims/frames — audio frames = its
    // doc-keyed sample count) hashes against a DuckDB recomputation, so
    // a regression in ANY codec or in the sniffer ordering breaks the
    // match. Per-row encode+decode; one map-side-combined rollup.
    "q242_media_dispatch_audit" -> { (s, dir) => implicit val sp = s
      import graft.multimodal.{Multimodal, RealCodec}
      val mk = udf { (docId: Long, nChars: Long) =>
        (docId % 3) match {
          case 0 => // PNG image, 9x8 (the q224 pixel shape)
            val rgb = Array.tabulate[Byte](9 * 8 * 3) { i =>
              (((docId / 7 * 1009L + (i / 3 % 9) * 97L + (i / 3 / 9) * 31L)
                % 239L) + docId % 7).toByte }
            RealCodec.encodePng(RealCodec.Image(9, 8, rgb))
          case 1 => // PCM-16 WAV, doc-keyed length (the q225 waveform)
            val n = (64 + nChars % 128).toInt
            val samples = Array.tabulate[Short](n)(i =>
              (((docId + 1) * (i + 1) * 2654435761L) % 65536L - 32768L).toShort)
            RealCodec.encodeWav(RealCodec.Wav(1, 16000, samples))
          case _ => // animated GIF, 12 frames of 9x8 (the q241 scenes)
            val cut = (3 + docId % 7).toInt
            val frames = (0 until 12).map { f =>
              Array.tabulate[Byte](72) { i =>
                val (x, y) = (i % 9, i / 9)
                (if (f < cut)
                  (docId / 7 * 53 + x * 29 + y * 13 + 3L * f) % 251L
                else
                  (docId / 7 * 71 + x * 41 + y * 23 + 3L * f + 128L) % 251L
                ).toByte }
            }
            RealCodec.encodeGifGray(RealCodec.GrayAnimation(9, 8, frames))
        }
      }
      import s.implicits._
      val media = t(dir, "documents").filter(col("doc_id") % 13 === 0)
        .select(col("doc_id").as("media_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3 + 1).cast("int")).as("kind"),
          mk(col("doc_id"), col("n_chars")).as("content"))
        .as[Multimodal.MediaFile]
      Multimodal.extractFeatures(media).toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("width").cast("long")).as("sum_w"),
          sum(col("height").cast("long")).as("sum_h"),
          sum(col("n_frames").cast("long")).as("sum_frames"))
        .orderBy(col("kind"))
    },

    // ---- INCREMENTAL drift monitoring between table snapshots: the
    // release-over-release PSI gate (q229's metric) where the second
    // histogram is maintained from the CHANGELOG — hist₂ = hist₁ +
    // added − removed, one metadata diff + changed-file reads, never a
    // rescan — and pinned in-query equal to the direct recomputation.
    // Commit 1 ingests an en-skewed slice, commit 2 appends the rest
    // and deletes the shortest docs (a COW group replace, so the
    // changelog carries both file adds and removals). The PSI of the
    // length distribution across the two snapshots quantizes per-bucket
    // to micro-units before summing (the q229 discipline). At 100 TB
    // this is how a drift dashboard stays current per commit: the bill
    // is the change set, the metric is exact.
    "q243_incremental_psi" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergLayoutWriter, IcebergManifestSource, LayoutMaintenance}
      import graft.sources.IcebergLayoutWriter.ManifestEntrySpec
      val docs = t(dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), expr("n_chars div 64").as("bkt"))
      val tbl = TmpFixture.dir("q243", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      val dataDir = new java.io.File(tbl, "data"); dataDir.mkdirs()
      def slice(name: String, f: org.apache.spark.sql.Column) = {
        val fl = new java.io.File(dataDir, s"$name.parquet")
        val n = IcebergLayoutWriter.writeSingleParquet(
          IcebergLayoutWriter.sortedSingle(docs.filter(f), col("doc_id")), fl)
        Seq(ManifestEntrySpec(status = 1, content = 0,
          filePath = fl.getAbsolutePath, recordCount = n,
          sizeBytes = fl.length()))
      }
      // independent slice writes overlap (guide §2.6); commits sequential
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fBase = Future(slice("base", col("lang") === "en"))
        val fRest = Future(slice("rest", col("lang") =!= "en"))
        LayoutMaintenance.commitAppend(s, tbl.getPath,
          Await.result(fBase, Duration.Inf))              // snapshot 1
        LayoutMaintenance.commitAppend(s, tbl.getPath,
          Await.result(fRest, Duration.Inf))              // snapshot 2
      }
      LayoutMaintenance.commitDeleteWhereCow(s, tbl.getPath,
        col("bkt") === 0L)                                // snapshot 3 (COW)
      val head = LayoutMaintenance.snapshotIds(s, tbl.getPath).max
      def histOf(df: DataFrame) = df.groupBy(col("bkt"))
        .agg(count(lit(1)).as("c"))
      // hist at snapshot 1: direct (it IS the baseline; snap 1 is
      // append-only, so its data files are its state)
      val snap1Files = IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil, Some(1L))
        .filter(col("content") === 0)
        .select("file_path").collect().map(_.getString(0)).toSeq
      // bucket-vocabulary-sized and consumed by BOTH the parity pin and
      // the final PSI frame — checkpoint so the snap-1 scan runs once
      val h1 = histOf(s.read.parquet(snap1Files: _*).select(col("bkt")))
        .localCheckpoint()
      // hist at head: INCREMENTALLY from the changelog fold over h1
      val ch = IcebergManifestSource.changesBetween(s, tbl.getPath, "t", 1L, head)
        .filter(col("content") === 0)
        .select(col("file_path"), col("change")).collect()
      def filesDf(paths: Seq[String]) =
        if (paths.isEmpty) docs.limit(0).select(col("bkt"))
        else s.read.parquet(paths: _*).select(col("bkt"))
      val added = histOf(filesDf(ch.filter(_.getString(1) == "added").map(_.getString(0)).toSeq))
        .withColumnRenamed("c", "ca")
      val removed = histOf(filesDf(ch.filter(_.getString(1) == "removed").map(_.getString(0)).toSeq))
        .withColumnRenamed("c", "cr")
      val h2inc = h1.withColumnRenamed("c", "c1")
        .join(added, Seq("bkt"), "full_outer")
        .join(removed, Seq("bkt"), "full_outer")
        .select(col("bkt"),
          (coalesce(col("c1"), lit(0L)) + coalesce(col("ca"), lit(0L))
            - coalesce(col("cr"), lit(0L))).as("c"))
        .filter(col("c") > 0)
        // same rule: the added/removed scans + 2-way fold run once for
        // the pin AND the PSI (bucket-sized result)
        .localCheckpoint()
      // pin: incremental == direct head histogram
      val h2dir = histOf(graft.sources.MorRead.readTable(s, tbl.getPath))
      val mism = h2inc.join(h2dir.withColumnRenamed("c", "cd"),
          Seq("bkt"), "full_outer")
        .filter(not(coalesce(col("c"), lit(-1L)) <=> coalesce(col("cd"), lit(-1L))))
        .count()
      require(mism == 0, s"incremental histogram diverged on $mism buckets")
      // PSI(snap1 -> head), q229 discipline: dense bucket grid, Laplace
      // smoothing, per-bucket micro-terms floored BEFORE the sum
      val buckets = h1.select(col("bkt"))
        .unionAll(h2inc.select(col("bkt"))).distinct()
      val n1 = h1.agg(sum(col("c")).as("n1"))
      val n2 = h2inc.agg(sum(col("c")).as("n2"))
      val nb = buckets.agg(count(lit(1)).as("b"))
      buckets
        .join(h1.withColumnRenamed("c", "c1"), Seq("bkt"), "left")
        .join(h2inc.withColumnRenamed("c", "c2"), Seq("bkt"), "left")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2)).crossJoin(broadcast(nb))
        .withColumn("p", (coalesce(col("c2"), lit(0L)) + 1L).cast("double")
          / (col("n2") + col("b")))
        .withColumn("q", (coalesce(col("c1"), lit(0L)) + 1L).cast("double")
          / (col("n1") + col("b")))
        .withColumn("term_micro",
          floor((col("p") - col("q")) * log(col("p") / col("q")) * 1e6).cast("long"))
        .agg(sum(col("term_micro")).as("psi_micro"),
          count(lit(1)).cast("long").as("n_buckets"),
          max(col("n1")).as("rows_before"), max(col("n2")).as("rows_after"))
    },

    // ---- the SQL maintenance-procedure surface end-to-end (Spark 4
    // ProcedureCatalog — Iceberg's `CALL cat.system.<proc>` names over
    // the executed LayoutMaintenance commits): a table lives through
    // two INSERTs, a row-level DELETE, `rewrite_data_files` (tombstones
    // dropped — pinned), a third INSERT, `rollback_to_snapshot` to the
    // rewrite (procedure RESULT feeds the next call), `expire_snapshots`
    // down to one reachable snapshot, and `remove_orphan_files` deleting
    // a planted fake task attempt (exactly one, pinned) — then the final
    // state hashes against DuckDB recomputing the surviving rows from
    // the base table. Every step is a SQL statement; every commit is
    // change-set-sized; the procedures' data movement uses the same
    // distributed write paths as INSERT.
    "q244_sql_maintenance" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q244wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.mx")
      s.sql(s"DROP TABLE IF EXISTS $cat.mx.t")
      s.sql(s"CREATE TABLE $cat.mx.t (o_orderkey BIGINT, " +
        "o_orderpriority STRING) USING `graft-iceberg`")
      t(dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        .createOrReplaceTempView("q244_src")
      s.sql(s"INSERT INTO $cat.mx.t SELECT * FROM q244_src WHERE o_orderkey % 4 = 0")
      s.sql(s"INSERT INTO $cat.mx.t SELECT * FROM q244_src WHERE o_orderkey % 4 = 1")
      s.sql(s"DELETE FROM $cat.mx.t WHERE o_orderkey % 10 = 3")
      val rw = s.sql(s"CALL $cat.system.rewrite_data_files('mx.t')").head
      val rewriteSnap = rw.getLong(0)
      val tbl = new java.io.File(new java.io.File(wh, "mx"), "t")
      require(graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil)
        .filter(col("content") =!= 0).count() == 0,
        "rewrite_data_files must leave the head tombstone-free")
      s.sql(s"INSERT INTO $cat.mx.t SELECT * FROM q244_src WHERE o_orderkey % 4 = 2")
      // the rewrite's RESULT (its snapshot id) drives the rollback
      s.sql(s"CALL $cat.system.rollback_to_snapshot('mx.t', $rewriteSnap)")
      // orphan removal while every snapshot is still in history: files of
      // rolled-back-but-retained commits are REFERENCED, so the only
      // orphan is the planted fake task attempt
      val planted = new java.io.File(new java.io.File(tbl, "data"),
        "leaked-attempt-00000.parquet")
      java.nio.file.Files.write(planted.toPath, Array[Byte](0x50, 0x41, 0x52))
      val removed = s.sql(
        s"CALL $cat.system.remove_orphan_files('mx.t', dry_run => false)")
        .collect()
      require(removed.length == 1 && !planted.exists(),
        s"orphan removal with full history must delete exactly the " +
          s"planted file, got " + removed.map(_.getString(0)).mkString(", "))
      s.sql(s"CALL $cat.system.expire_snapshots('mx.t', retain_last => 1)")
      val heads = s.sql(s"CALL $cat.system.ancestors_of('mx.t')").collect()
      require(heads.count(_.getBoolean(2)) == 1 &&
        heads.filter(_.getBoolean(2)).head.getLong(0) == rewriteSnap,
        s"expire must keep the rolled-back-to head $rewriteSnap")
      s.sql(s"""SELECT o_orderpriority, count(*) AS n_orders,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  sum(o_orderkey) AS sum_keys
        |FROM $cat.mx.t GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
    },

    // ---- lake onboarding: `add_files` imports the EXISTING lineitem
    // parquet into a catalog table as one metadata-only commit — zero
    // data movement, row counts and declared-column bounds from a
    // distributed footer pass (pinned: bounds recorded, data dir empty)
    // — then `compute_table_stats` sketches NDVs over the imported state
    // in one pass and registers a Puffin statistics file (pinned:
    // registered at the head). This is THE 100 TB adoption path: a
    // petabyte lake becomes a governed table without rewriting a byte.
    // The final aggregate runs over the imported table through pure SQL
    // and hashes against DuckDB on the raw parquet — equality IS the
    // zero-copy proof.
    "q245_add_files_onboarding" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q245wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ob")
      s.sql(s"DROP TABLE IF EXISTS $cat.ob.li")
      s.sql(s"CREATE TABLE $cat.ob.li (l_orderkey BIGINT, l_partkey BIGINT, " +
        "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
        "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
        "l_returnflag STRING, l_linestatus STRING) USING `graft-iceberg` " +
        "TBLPROPERTIES ('pushdown.fields'='l_orderkey:1:long')")
      val src = new java.io.File(dir, "lineitem.parquet").getAbsolutePath
      val add = s.sql(s"CALL $cat.system.add_files('ob.li', '$src')").head
      val expect = t(dir, "lineitem").count()
      require(add.getLong(1) == expect,
        s"add_files row count ${add.getLong(1)} != source $expect")
      val tbl = new java.io.File(new java.io.File(wh, "ob"), "li")
      val dataDir = new java.io.File(tbl, "data")
      require(!dataDir.exists() ||
        Option(dataDir.listFiles()).forall(_.isEmpty),
        "add_files must not copy data into the table dir")
      // footer-derived bounds present on every imported entry
      val bounds = graft.sources.IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t",
          Seq((1, "l_orderkey", org.apache.spark.sql.types.LongType)))
        .select("lo_l_orderkey", "hi_l_orderkey").collect()
      require(bounds.nonEmpty && bounds.forall(r =>
        !r.isNullAt(0) && !r.isNullAt(1)),
        "imported files must carry footer-derived l_orderkey bounds")
      // stats close the loop: NDV sketches registered at the head
      val st = s.sql(s"CALL $cat.system.compute_table_stats('ob.li', " +
        "columns => 'l_returnflag,l_linestatus')").collect()
      require(st.length == 2, s"expected 2 stats rows, got ${st.length}")
      require(graft.sources.IcebergManifestSource
        .statisticsFiles(s, tbl.getPath).size == 1,
        "statistics file must be registered in table metadata")
      val ndv = st.map(r => r.getString(1) -> r.getLong(3)).toMap
      s.sql(s"""SELECT l_returnflag, l_linestatus,
        |  count(*) AS n_rows,
        |  sum(CAST(FLOOR(l_quantity) AS BIGINT)) AS sum_qty,
        |  sum(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS sum_price_cents,
        |  ${ndv("l_returnflag")}L AS ndv_returnflag,
        |  ${ndv("l_linestatus")}L AS ndv_linestatus
        |FROM $cat.ob.li
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },

    // ---- zero-copy experimentation sandbox via `CALL snapshot`: a
    // production table (insert + row-level DELETE, so live tombstones)
    // is CLONED without moving a byte (pinned: clone data dir empty);
    // the sandbox then applies a candidate quality gate while production
    // takes a new ingest — histories diverge from one shared-file root.
    // Output is both tables' per-priority profiles; DuckDB recomputes
    // each side from the base relation and the predicate algebra, so the
    // clone's MOR replay (preserved sequence numbers) is hash-gated.
    "q246_snapshot_sandbox" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q246wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sb")
      s.sql(s"DROP TABLE IF EXISTS $cat.sb.prod")
      s.sql(s"DROP TABLE IF EXISTS $cat.sb.sandbox")
      s.sql(s"CREATE TABLE $cat.sb.prod (o_orderkey BIGINT, " +
        "o_orderpriority STRING, o_totalprice DOUBLE) USING `graft-iceberg`")
      t(dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .createOrReplaceTempView("q246_src")
      s.sql(s"INSERT INTO $cat.sb.prod SELECT * FROM q246_src WHERE o_orderkey % 3 = 0")
      s.sql(s"DELETE FROM $cat.sb.prod WHERE o_orderkey % 100 < 10")
      val r = s.sql(s"CALL $cat.system.snapshot('sb.prod', 'sb.sandbox')").head
      require(r.getInt(2) > 0, "clone must carry the source's files")
      val cloneData = new java.io.File(
        new java.io.File(new java.io.File(wh, "sb"), "sandbox"), "data")
      require(!cloneData.exists() ||
        Option(cloneData.listFiles()).forall(_.isEmpty),
        "snapshot must not copy data into the clone")
      // sandbox: candidate gate; production: new ingest — divergent
      s.sql(s"DELETE FROM $cat.sb.sandbox WHERE o_totalprice < 150000.0")
      s.sql(s"INSERT INTO $cat.sb.prod SELECT * FROM q246_src WHERE o_orderkey % 3 = 1")
      s.sql(s"""SELECT * FROM (
        |  SELECT 'prod' AS side, o_orderpriority,
        |    count(*) AS n, sum(o_orderkey) AS sum_keys
        |  FROM $cat.sb.prod GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT 'sandbox' AS side, o_orderpriority,
        |    count(*) AS n, sum(o_orderkey) AS sum_keys
        |  FROM $cat.sb.sandbox GROUP BY o_orderpriority
        |) ORDER BY side, o_orderpriority""".stripMargin)
    },

    // ---- partition-spec evolution through the LIVE commit path: a table
    // ingests an era unpartitioned, `CALL add_partition_field(bucket(4))`
    // makes an evolved spec the default (metadata-only — pinned: both
    // specs recorded, default = 1), a second era ingests bucketed, and a
    // row-level DELETE spans both eras (carry preserves per-era spec
    // attribution — pinned via manifest-list spec ids). An equality probe
    // plans fewer files than the table holds (bucket pruning on the new
    // era + bound pruning on the old — pinned), and the cross-era
    // aggregate hash-matches DuckDB recomputing from the base relation.
    "q247_partition_evolution" -> { (s, dir) => implicit val sp = s
      val wh = TmpFixture.dir("q247wh", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(wh); wh.mkdirs()
      val cat = "graft_" + Integer.toHexString(wh.getAbsolutePath.hashCode)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.getAbsolutePath)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ev")
      s.sql(s"DROP TABLE IF EXISTS $cat.ev.t")
      s.sql(s"CREATE TABLE $cat.ev.t (o_orderkey BIGINT, " +
        "o_orderpriority STRING) USING `graft-iceberg` " +
        "TBLPROPERTIES ('pushdown.fields'='o_orderkey:1:long')")
      t(dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        .createOrReplaceTempView("q247_src")
      s.sql(s"INSERT INTO $cat.ev.t SELECT * FROM q247_src WHERE o_orderkey % 2 = 0")
      val r = s.sql(s"CALL $cat.system.add_partition_field('ev.t', " +
        "'bucket(4, o_orderkey)')").head
      require(r.getInt(0) == 1 && r.getString(1) == "o_orderkey_bucket",
        s"evolution result: $r")
      s.sql(s"INSERT INTO $cat.ev.t SELECT * FROM q247_src WHERE o_orderkey % 2 = 1")
      val tbl = new java.io.File(new java.io.File(wh, "ev"), "t")
      val (defId, specs) = graft.sources.IcebergManifestSource
        .partitionSpecs(s, tbl.getPath)
      require(defId == 1 && specs.map(_._1).sorted == Seq(0, 1),
        s"expected specs 0,1 with default 1: got $defId / ${specs.map(_._1)}")
      // row-level DELETE across both eras: the carry must keep per-era
      // spec attribution on the manifest-list rows
      s.sql(s"DELETE FROM $cat.ev.t WHERE o_orderkey % 10 = 9")
      val head = graft.sources.LayoutMaintenance
        .snapshotIds(s, tbl.getPath).max
      val sids = graft.sources.IcebergManifestSource.manifestList(
        s.sparkContext.hadoopConfiguration,
        new java.io.File(new java.io.File(tbl, "metadata"),
          s"snap-$head-manifest-list.avro").getAbsolutePath).map(_.specId)
      require(sids.contains(0) && sids.contains(1),
        s"carry lost per-era spec attribution: $sids")
      // pruning across the evolved history: an equality probe plans
      // fewer files than the table holds
      val total = s.read.format("graft-iceberg").load(tbl.getPath)
        .rdd.getNumPartitions
      val planned = s.sql(s"SELECT * FROM $cat.ev.t WHERE o_orderkey = 1")
        .rdd.getNumPartitions
      require(planned < total,
        s"expected evolved-spec pruning: $planned of $total planned")
      s.sql(s"""SELECT o_orderpriority, count(*) AS n,
        |  sum(o_orderkey) AS sum_keys,
        |  count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS n_era1,
        |  count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_era2
        |FROM $cat.ev.t GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
    },

    // ---- exact ROC-AUC (Mann-Whitney U with the standard tie
    // correction) for a quality-classifier evaluation, per source and
    // overall: score = token count (space count), label = long-document
    // membership (n_chars >= 300). The classic formulation sorts all scored rows — a
    // global sort that dies at corpus scale. Here the relation collapses
    // to the (scope, score)-histogram FIRST (shuffles see only distinct
    // scores), the negative-count prefix sums come from the bucketed
    // rangeCumsum (never one task), and the AUC numerator stays an exact
    // integer — 2·U = Σ_v [2·n1(v)·N0(<v) + n1(v)·n0(v)] — until the ONE
    // final division. Identical at any partitioning.
    "q248_roc_auc" -> { (s, dir) => implicit val sp = s
      val docs = t(dir, "documents")
      val scored = docs.select(
        col("source"),
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))))
          .cast("long").as("score"),
        when(col("n_chars") >= 300L, 1L).otherwise(0L).as("label"))
      def auc(df: DataFrame, group: Seq[String]): DataFrame = {
        val hist = df.groupBy((group.map(col) :+ col("score")): _*)
          .agg(sum(col("label")).as("n1"),
            sum(lit(1L) - col("label")).as("n0"))
        val cum = StatOps.rangeCumsum(hist, group, Seq("score"),
          Seq(("cum_n0", col("n0"))), StatOps.octaveBucket16(col("score")))
        // exclusive prefix (negatives STRICTLY below this score) + ties
        cum.withColumn("n0_below", col("cum_n0") - col("n0"))
          .groupBy(group.map(col): _*)
          .agg(sum(col("n1")).as("n_pos"),
            sum(col("n0")).as("n_neg"),
            sum(col("n1") * col("n0_below") * 2 + col("n1") * col("n0"))
              .as("u2"))
          .withColumn("auc",
            round(col("u2").cast("double")
              / (col("n_pos") * col("n_neg") * 2).cast("double"), 6))
      }
      val overall = auc(scored, Nil).withColumn("scope", lit("__all__"))
        .select("scope", "n_pos", "n_neg", "u2", "auc")
      val perSource = auc(scored, Seq("source"))
        .withColumnRenamed("source", "scope")
        .select("scope", "n_pos", "n_neg", "u2", "auc")
      overall.unionByName(perSource).orderBy(col("scope"))
    },

    // ---- exact F1-optimal threshold for a quality filter: sweep EVERY
    // candidate threshold (= every distinct score) and report the one
    // maximizing F1, with its confusion counts. Same discipline as q248:
    // collapse to the score histogram first, cumulative positives/
    // negatives below each score from the bucketed rangeCumsum, then
    // TP/FP/FN at "keep score >= v" are pure integer arithmetic per
    // DISTINCT score and the argmax is a tiny aggregation — the curve
    // never materializes row-level, the sweep costs one histogram pass.
    // F1 ranks as a double computed from exact integers (identical in
    // both engines); ties break toward the LOWEST threshold.
    "q249_f1_threshold" -> { (s, dir) => implicit val sp = s
      val docs = t(dir, "documents")
      val scored = docs.select(
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))))
          .cast("long").as("score"),
        when(col("n_chars") >= 300L, 1L).otherwise(0L).as("label"))
      val hist = scored.groupBy(col("score"))
        .agg(sum(col("label")).as("n1"), sum(lit(1L) - col("label")).as("n0"))
      val cum = StatOps.rangeCumsum(hist, Nil, Seq("score"),
        Seq(("c1", col("n1")), ("c0", col("n0"))),
        StatOps.octaveBucket16(col("score")))
      val conf = cum.select(
        col("score").as("threshold"),
        // keep score >= threshold: positives/negatives at or above
        (col("c1_total") - (col("c1") - col("n1"))).as("tp"),
        (col("c0_total") - (col("c0") - col("n0"))).as("fp"),
        (col("c1") - col("n1")).as("fn"))
        .withColumn("f1",
          when(col("tp") * 2 + col("fp") + col("fn") === 0, lit(0.0))
            .otherwise((col("tp") * 2).cast("double")
              / (col("tp") * 2 + col("fp") + col("fn")).cast("double")))
      conf.agg(max_by(
          struct(col("threshold"), col("tp"), col("fp"), col("fn"), col("f1")),
          struct(col("f1"), -col("threshold"))).as("best"))
        .select(col("best.threshold").as("threshold"),
          col("best.tp").as("tp"), col("best.fp").as("fp"),
          col("best.fn").as("fn"), round(col("best.f1"), 6).as("f1"))
    },

    // ---- inter-annotator agreement (Cohen's kappa) between two
    // labelers — here two deterministic quality heuristics (length gate
    // vs token-count gate) over the corpus; in production, two model
    // raters or a rater vs gold. The whole computation is ONE
    // partially-aggregable pass (four conditional counts), then kappa =
    // (n·agree − Σ marginal products) / (n² − Σ marginal products) in
    // exact integers with one final division — no per-row state, no
    // shuffle beyond the 4-cell confusion matrix.
    "q250_cohens_kappa" -> { (s, dir) => implicit val sp = s
      val docs = t(dir, "documents")
      val rated = docs.select(
        when(col("n_chars") >= 300L, 1L).otherwise(0L).as("a"),
        when((length(col("text"))
            - length(replace(col("text"), lit(" "), lit("")))) >= 54L, 1L)
          .otherwise(0L).as("b"))
      rated.agg(
          sum(col("a") * col("b")).as("both_pos"),
          sum(col("a") * (lit(1L) - col("b"))).as("a_only"),
          sum((lit(1L) - col("a")) * col("b")).as("b_only"),
          sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("both_neg"))
        .withColumn("n",
          col("both_pos") + col("a_only") + col("b_only") + col("both_neg"))
        .withColumn("pe_num",
          (col("both_pos") + col("a_only")) * (col("both_pos") + col("b_only"))
            + (col("b_only") + col("both_neg")) * (col("a_only") + col("both_neg")))
        .withColumn("kappa", round(
          (col("n") * (col("both_pos") + col("both_neg")) - col("pe_num"))
            .cast("double")
            / (col("n") * col("n") - col("pe_num")).cast("double"), 6))
        .select("both_pos", "a_only", "b_only", "both_neg", "kappa")
    },

    // ---- Unicode-normalized dedup via the native `nfc_normalize`
    // kernel (graft.functions.NfcNormalize — codegen'd, ASCII fast
    // path): the SAME visible document arrives precomposed (U+00E9 'é')
    // from one source and decomposed ('e' + U+0301) from another, and
    // every byte-keyed dedup treats them as distinct unless the text is
    // canonicalized first. Each doc here yields BOTH forms; raw distinct
    // counts see 2 per doc, NFC-normalized distinct counts collapse them
    // to 1 — per language, the collapse ratio is pinned by the oracle
    // (DuckDB's own nfc_normalize recomputes it).
    "q251_nfc_dedup" -> { (s, dir) => implicit val sp = s
      graft.functions.NfcNormalize.register(s)
      val docs = t(dir, "documents")
      // precomposed vs decomposed spellings of the same visible suffix
      val pre = " caf\u00e9 d\u00e9j\u00e0"
      val dec = " cafe\u0301 de\u0301ja\u0300"
      val variants = docs.select(col("lang"),
          array(
            concat(col("text"), lit(pre)),
            concat(col("text"), lit(dec)))
            .as("forms"))
        .select(col("lang"), explode(col("forms")).as("variant"))
      variants
        .select(col("lang"), col("variant"),
          expr("nfc_normalize(variant)").as("canon"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_variants"),
          countDistinct(col("variant")).as("distinct_raw"),
          countDistinct(col("canon")).as("distinct_nfc"))
        .orderBy(col("lang"))
    },

    // ---- margin-based bitext mining (Artetxe & Schwenk, the
    // LASER/CCMatrix parallel-corpus miner): two embedding spaces (the
    // even/odd vec_id halves standing in for two languages), score every
    // cross pair by cosine NORMALIZED by both endpoints' k=4 neighborhood
    // averages — margin = cos(x,y) / ((Σ NN4(x) + Σ NN4(y)) / 8) — and
    // mine MUTUAL best matches. Raw cosine mines hubs (vectors close to
    // everything); the margin divides that hubness out, which is why
    // production bitext pipelines use it. Determinism: neighborhood sums
    // assemble from the 4 RANKED neighbor cosines in fixed left-to-right
    // order (never a float aggregate whose order the engine picks), so
    // every margin is bit-identical at any partitioning and in DuckDB.
    // Scale shape: the cross join is a broadcast nested-loop on the
    // smaller half (at 100 TB the candidate cross comes from the q28
    // sign-LSH buckets instead — same downstream margin math); windows
    // partition per vector, never global.
    "q252_bitext_mining" -> { (s, dir) => implicit val sp = s
      val e = t(dir, "embeddings").select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("v"))
        .withColumn("nrm", sqrt(
          graft.functions.DoubleArrayDot.doubleDot(col("v"), col("v"))))
      val src = e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("src_id"), col("v").as("sv"), col("nrm").as("sn"))
      val tgt = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("tgt_id"), col("v").as("tv"), col("nrm").as("tn"))
      val pairs = src.join(broadcast(tgt), col("src_id") =!= col("tgt_id"))
        .withColumn("cos",
          graft.functions.DoubleArrayDot.doubleDot(col("sv"), col("tv"))
            / (col("sn") * col("tn")))
        .select("src_id", "tgt_id", "cos")
        .localCheckpoint() // the cross is reused 3x (sums x2 + margin)
      // top-4 per endpoint via the bounded-buffer aggregator (the q54
      // discipline; r16): the window formulation shuffled AND sorted all
      // ~6M cross pairs per side — the partial top-k caps each map
      // partition at 4 rows per key before the exchange. Ranking is the
      // same (cos desc, neighbor id asc), and the rank-ordered sum
      // 1+2+3+4 keeps the fixed left-to-right float fold.
      def nn4Sum(key: String): DataFrame = {
        val other = if (key == "src_id") "tgt_id" else "src_id"
        val top4 = udaf(new graft.functions.TopKAggregator.TopK(4))
        // try_element_at: under ANSI mode a plain element_at THROWS when
        // a key has fewer than 4 neighbors; the old window formulation
        // yielded a NULL sum there — keep that graceful-null behavior
        // (identical on any corpus with >=5 embeddings per side)
        def at(i: Int) = try_element_at(col("t"), lit(i)).getField("value")
        pairs.groupBy(col(key))
          .agg(top4(col("cos"), col(other)).as("t"))
          .select(col(key),
            (at(1) + at(2) + at(3) + at(4)).as(s"nn_$key"))
      }
      val withMargin = pairs
        .join(broadcast(nn4Sum("src_id")), "src_id")
        .join(broadcast(nn4Sum("tgt_id")), "tgt_id")
        .withColumn("margin",
          col("cos") / ((col("nn_src_id") + col("nn_tgt_id")) / lit(8.0)))
      val bestForSrc = withMargin.groupBy(col("src_id"))
        .agg(max_by(col("tgt_id"), struct(col("margin"), -col("tgt_id")))
          .as("best_tgt"),
          max(struct(col("margin"), -col("tgt_id"))).getField("margin")
            .as("m_src"))
      val bestForTgt = withMargin.groupBy(col("tgt_id"))
        .agg(max_by(col("src_id"), struct(col("margin"), -col("src_id")))
          .as("best_src"))
      // mutual best = mined pair
      bestForSrc.join(bestForTgt,
          col("best_tgt") === col("tgt_id") && col("best_src") === col("src_id"))
        .select(col("src_id"), col("tgt_id"),
          round(col("m_src"), 4).as("margin"))
        .orderBy(col("src_id"))
    },

    // ---- DELETION VECTORS end-to-end (Iceberg v3's position-delete
    // shape): two DELETEs commit as Puffin DV containers — one blob per
    // affected data file, fileFormat=PUFFIN manifest entries (pinned) —
    // instead of parquet tombstone rows; the MOR read applies them with
    // identical (file, pos, seq) visibility, the connector's per-task
    // read decodes only each file's OWN blob, and a final
    // rewrite_position_deletes folds both vectors into one consolidated
    // tombstone (pinned: 2 -> 1, format back to PARQUET). The survivors'
    // aggregate hash-matches DuckDB recomputing from predicate algebra —
    // so the v3 container path is gated by the same oracle as the v2 one.
    "q253_deletion_vectors" -> { (s, dir) => implicit val sp = s
      import graft.sources.{IcebergManifestSource, LayoutMaintenance, MorRead}
      val tbl = TmpFixture.dir("q253", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(tbl)
      t(dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
        .filter(col("k") % 2 === 0)
        .write.format("graft-iceberg").mode("append").save(tbl.getPath)
      t(dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
        .filter(col("k") % 2 === 1)
        .write.format("graft-iceberg").mode("append").save(tbl.getPath)
      LayoutMaintenance.commitDeleteWhereDv(s, tbl.getPath,
        col("k") % 10 === 3)
      LayoutMaintenance.commitDeleteWhereDv(s, tbl.getPath,
        col("k") % 100 === 42)
      val dvs = IcebergManifestSource
        .statsFromTableDir(s, tbl.getPath, "t", Nil)
        .filter(col("content") === 1)
        .select("file_format").collect().map(_.getString(0))
      require(dvs.length == 2 && dvs.forall(_ == "PUFFIN"),
        s"expected two PUFFIN deletion vectors, got ${dvs.mkString(",")}")
      // connector MOR read == MorRead, both applying the vectors
      val viaConnector = s.read.format("graft-iceberg").load(tbl.getPath)
      val viaMor = MorRead.readTable(s, tbl.getPath)
      require(viaConnector.count() == viaMor.count(),
        "connector and MorRead must agree under deletion vectors")
      // fold both vectors into one consolidated parquet tombstone
      val (_, nBefore, nAfter, _) =
        LayoutMaintenance.rewritePositionDeletes(s, tbl.getPath)
      require(nBefore == 2 && nAfter == 1,
        s"fold must consolidate 2 vectors into 1 file, got $nBefore->$nAfter")
      s.read.format("graft-iceberg").load(tbl.getPath)
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_keys"))
        .orderBy(col("prio"))
    })

  def oracles: Map[String, String] = Map(

    "q221_span_dedup" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL),
         |plag AS (
         |  SELECT doc_id + 100000 AS doc_id, source,
         |    substring(text, 1, 150) || ' unique tail ' ||
         |      CAST(doc_id AS VARCHAR) AS text
         |  FROM base WHERE doc_id % 50 = 0),
         |corpus AS (
         |  SELECT doc_id, source, text, length(text) AS n FROM base
         |  UNION ALL
         |  SELECT doc_id, source, text, length(text) AS n FROM plag),
         |c AS (SELECT * FROM corpus WHERE n >= $SpanW),
         |sp AS (
         |  SELECT doc_id, source, (i - 1) * $SpanS + 1 AS pos,
         |    substring(text, (i - 1) * $SpanS + 1, $SpanW) AS span
         |  FROM c, unnest(generate_series(1, ((n - $SpanW) // $SpanS) + 1)) AS u(i)),
         |r AS (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
         |  FROM sp)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  CAST(count(DISTINCT CASE WHEN rn > 1 THEN doc_id END) AS BIGINT)
         |    AS n_dup_docs
         |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "q222_repetition_filter" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS ndw
        |  FROM documents WHERE text IS NOT NULL
        |    AND len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
        |  FROM d, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |tb AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS topbg FROM bc GROUP BY 1),
        |m AS (
        |  SELECT d.doc_id, lang,
        |    (10000 * (nw - ndw)) // nw AS dupw_bp,
        |    (10000 * topbg) // (nw - 1) AS topbg_bp
        |  FROM d JOIN tb ON d.doc_id = tb.doc_id)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN dupw_bp > 8500 OR topbg_bp > 700
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(max(dupw_bp) AS BIGINT) AS max_dupw_bp,
        |  CAST(max(topbg_bp) AS BIGINT) AS max_topbg_bp
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,

    "q223_rrf_hybrid" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |q AS (SELECT doc_id AS qid, list_distinct(toks) AS qterms
        |      FROM d WHERE doc_id % 100 = 0),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY 1, 2),
        |qt AS (SELECT qid, unnest(qterms) AS term FROM q),
        |lex AS (
        |  SELECT qid, doc_id, sum(tf) AS score_lex
        |  FROM tf JOIN qt USING (term) WHERE doc_id <> qid GROUP BY 1, 2),
        |lexr AS (
        |  SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY score_lex DESC, doc_id) AS BIGINT) AS r_lex
        |  FROM lex),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e),
        |qe AS (SELECT q.qid, n.v AS qv, n.nrm AS qn
        |       FROM q JOIN n ON n.vec_id = q.qid),
        |cosv AS (
        |  SELECT qe.qid, n.vec_id AS doc_id,
        |    list_sum(list_transform(generate_series(1, len(n.v)),
        |      i -> n.v[i] * qe.qv[i])) / (n.nrm * qe.qn) AS cos
        |  FROM n CROSS JOIN qe WHERE n.vec_id <> qe.qid),
        |denser AS (
        |  SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, doc_id) AS BIGINT) AS r_dense
        |  FROM cosv),
        |fused AS (
        |  SELECT coalesce(lexr.qid, denser.qid) AS qid,
        |    coalesce(lexr.doc_id, denser.doc_id) AS doc_id,
        |    lexr.r_lex, denser.r_dense,
        |    coalesce(1.0 / (60.0 + lexr.r_lex), 0.0)
        |      + coalesce(1.0 / (60.0 + denser.r_dense), 0.0) AS rrf
        |  FROM lexr FULL OUTER JOIN denser
        |    ON lexr.qid = denser.qid AND lexr.doc_id = denser.doc_id),
        |ranked AS (
        |  SELECT qid, doc_id, r_lex, r_dense, rrf,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
        |  FROM fused)
        |SELECT qid, rank, doc_id, r_lex, r_dense, round(rrf, 6) AS rrf
        |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "q224_dhash_image_dedup" ->
      """WITH ids AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
        |px AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 62), b ->
        |      CASE WHEN ((doc_id // 7 * 1009 + ((b % 8) + 1) * 97 + (b // 8) * 31) % 239)
        |              > ((doc_id // 7 * 1009 + (b % 8) * 97 + (b // 8) * 31) % 239)
        |           THEN 1::BIGINT << b ELSE 0 END)) AS BIGINT) AS dhash,
        |    CAST(list_sum(list_transform(generate_series(0, 71), cc ->
        |      ((doc_id // 7 * 1009 + (cc % 9) * 97 + (cc // 9) * 31) % 239)
        |        + doc_id % 7)) AS BIGINT) AS pixsum
        |  FROM ids)
        |SELECT dhash, CAST(count(*) AS BIGINT) AS n_imgs,
        |  CAST(min(doc_id) AS BIGINT) AS rep_doc,
        |  CAST(sum(pixsum) AS BIGINT) AS total_pixsum
        |FROM px GROUP BY dhash ORDER BY rep_doc""".stripMargin,

    "q225_audio_stats" ->
      """WITH d AS (
        |  SELECT doc_id, source, 64 + n_chars % 128 AS n
        |  FROM documents WHERE doc_id % 3 = 0),
        |s AS (
        |  SELECT doc_id, source, n,
        |    list_transform(generate_series(1, n),
        |      i -> ((doc_id + 1) * i * 2654435761) % 65536 - 32768) AS l
        |  FROM d),
        |m AS (
        |  SELECT source, n,
        |    CAST(list_sum(list_transform(l, v -> abs(v))) AS BIGINT) AS sumabs,
        |    CAST(list_max(list_transform(l, v -> abs(v))) AS BIGINT) AS maxabs,
        |    CAST(coalesce(list_sum(list_transform(generate_series(2, n),
        |      i -> CASE WHEN (l[i] >= 0) != (l[i - 1] >= 0)
        |           THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zc
        |  FROM s)
        |SELECT source, CAST(sum(n) AS BIGINT) AS total_samples,
        |  CAST(sum(sumabs) AS BIGINT) AS total_abs,
        |  CAST(max(maxabs) AS BIGINT) AS max_amp,
        |  CAST(sum(zc) AS BIGINT) AS total_zc
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    "q226_dsir_select" ->
      """WITH w AS (
        |  SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |wb AS (
        |  SELECT doc_id, lang, source,
        |    CAST('0x' || substring(md5(w), 1, 7) AS BIGINT) % 256 AS b
        |  FROM w),
        |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS c_t FROM wb
        |       WHERE lang = 'en' GROUP BY b),
        |cr AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r FROM wb GROUP BY b),
        |scored AS (
        |  SELECT doc_id, lang, source,
        |    CAST(sum(coalesce(c_t, 0) + 1) AS BIGINT) AS num,
        |    CAST(sum(coalesce(c_r, 0) + 1) AS BIGINT) AS den
        |  FROM wb LEFT JOIN ct USING (b) LEFT JOIN cr USING (b)
        |  GROUP BY 1, 2, 3),
        |sel AS (
        |  SELECT lang, CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ratio
        |  FROM scored
        |  ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE) DESC, doc_id
        |  LIMIT 100)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_selected,
        |  round(min(ratio), 6) AS min_sel_ratio
        |FROM sel GROUP BY lang ORDER BY lang""".stripMargin,

    "q227_orc_mixed_format" ->
      """WITH src AS (
        |  SELECT l_orderkey AS k, l_partkey AS pk,
        |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem WHERE l_orderkey % 4 IN (1, 2)),
        |live AS (SELECT * FROM src WHERE k % 7 <> 3)
        |SELECT pk % 10 AS band, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM live GROUP BY 1 ORDER BY 1""".stripMargin,

    "q228_normalization_uplift" ->
      """WITH base AS (
        |  SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL),
        |corpus AS (
        |  SELECT doc_id, source, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 300000, source, upper(text) || ' !!'
        |  FROM base WHERE doc_id % 40 = 0),
        |c AS (
        |  SELECT doc_id, source, text,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM corpus),
        |rawd AS (
        |  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS raw_dup_docs
        |  FROM (SELECT source, doc_id,
        |          count(*) OVER (PARTITION BY text) AS grp_n FROM c)
        |  WHERE grp_n > 1 GROUP BY source),
        |normd AS (
        |  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS norm_dup_docs
        |  FROM (SELECT source, doc_id,
        |          count(*) OVER (PARTITION BY norm) AS grp_n FROM c)
        |  WHERE grp_n > 1 GROUP BY source),
        |srcs AS (SELECT DISTINCT source FROM c)
        |SELECT srcs.source,
        |  coalesce(raw_dup_docs, 0) AS raw_dup_docs,
        |  coalesce(norm_dup_docs, 0) AS norm_dup_docs,
        |  coalesce(norm_dup_docs, 0) - coalesce(raw_dup_docs, 0) AS uplift
        |FROM srcs LEFT JOIN rawd ON srcs.source = rawd.source
        |LEFT JOIN normd ON srcs.source = normd.source
        |ORDER BY srcs.source""".stripMargin,

    "q229_psi_drift" ->
      """WITH d AS (
        |  SELECT source, n_chars // 64 AS bkt
        |  FROM documents WHERE text IS NOT NULL),
        |buckets AS (SELECT DISTINCT bkt FROM d),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM buckets),
        |st AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM d GROUP BY 1),
        |ct AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM d),
        |sb AS (SELECT source, bkt, CAST(count(*) AS BIGINT) AS cs
        |       FROM d GROUP BY 1, 2),
        |cb AS (SELECT bkt, CAST(count(*) AS BIGINT) AS cc FROM d GROUP BY 1),
        |grid AS (
        |  SELECT st.source, buckets.bkt, st.ns, nb.b, ct.nc,
        |    coalesce(sb.cs, 0) AS cs, coalesce(cb.cc, 0) AS cc
        |  FROM st CROSS JOIN buckets
        |  LEFT JOIN sb ON sb.source = st.source AND sb.bkt = buckets.bkt
        |  LEFT JOIN cb ON cb.bkt = buckets.bkt
        |  CROSS JOIN ct CROSS JOIN nb),
        |terms AS (
        |  SELECT source,
        |    CAST(FLOOR((CAST(cs + 1 AS DOUBLE) / (ns + b)
        |      - CAST(cc + 1 AS DOUBLE) / (nc + b))
        |      * ln((CAST(cs + 1 AS DOUBLE) / (ns + b))
        |          / (CAST(cc + 1 AS DOUBLE) / (nc + b))) * 1e6) AS BIGINT)
        |      AS term_micro
        |  FROM grid)
        |SELECT source, CAST(sum(term_micro) AS BIGINT) AS psi_micro,
        |  CAST(count(*) AS BIGINT) AS n_buckets
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    "q230_rag_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 97 = 0),
        |ch AS (
        |  SELECT doc_id, (i - 1) * 150 + 1 AS pos,
        |    substring(text, (i - 1) * 150 + 1, 200) AS chunk
        |  FROM d, unnest(generate_series(1, ((n - 1) // 150) + 1)) AS u(i))
        |SELECT doc_id, pos, CAST(length(chunk) AS BIGINT) AS chunk_len,
        |  CAST(length(chunk) - length(replace(chunk, ' ', '')) + 1 AS BIGINT)
        |    AS n_tokens
        |FROM ch ORDER BY doc_id, pos""".stripMargin,

    "q231_int8_quant_audit" ->
      """WITH e AS (
        |  SELECT label, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |sc AS (
        |  SELECT label, v,
        |    list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM e),
        |q AS (
        |  SELECT label, v, scale,
        |    list_transform(v, x -> FLOOR(127 * x / scale + 0.5) * scale / 127)
        |      AS dq
        |  FROM sc WHERE scale > 0),
        |m AS (
        |  SELECT label,
        |    list_sum(list_transform(generate_series(1, len(v)),
        |      i -> (v[i] - dq[i]) * (v[i] - dq[i]))) AS sse,
        |    list_max(list_transform(generate_series(1, len(v)),
        |      i -> abs(v[i] - dq[i]))) AS maxe
        |  FROM q)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CAST(FLOOR(sse * 1e9) AS BIGINT)) AS BIGINT) AS total_sse_nano,
        |  CAST(max(CAST(FLOOR(maxe * 1e6) AS BIGINT)) AS BIGINT) AS max_err_micro
        |FROM m GROUP BY label ORDER BY label""".stripMargin,

    "q232_rewrite_pos_deletes" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |live AS (
        |  SELECT * FROM base
        |  WHERE k % 11 <> 0 AND k % 13 <> 0 AND k % 17 <> 0)
        |SELECT prio, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM live GROUP BY prio ORDER BY prio""".stripMargin,

    "q233_cherry_pick" ->
      """WITH cust AS (
        |  SELECT c_custkey AS ck, c_nationkey AS nat,
        |    CAST(FLOOR(c_acctbal) AS BIGINT) AS bal
        |  FROM customer),
        |state AS (
        |  SELECT * FROM cust WHERE ck % 4 IN (0, 1, 2))
        |SELECT nat, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal
        |FROM state GROUP BY nat ORDER BY nat""".stripMargin,

    "q234_temperature_sampling" ->
      """WITH d AS (
        |  SELECT doc_id, lang FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
        |k AS (
        |  SELECT list_sum(list(sqrt(CAST(c AS DOUBLE)) ORDER BY lang))
        |    AS ssum
        |  FROM c),
        |dec AS (
        |  SELECT d.lang, c.c,
        |    CAST(CAST('0x' || substring(md5('temp:' ||
        |      CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS DOUBLE)
        |      < 300.0 / k.ssum / sqrt(CAST(c.c AS DOUBLE)) * 268435456.0
        |      AS keep
        |  FROM d JOIN c ON d.lang = c.lang CROSS JOIN k)
        |SELECT lang, CAST(max(c) AS BIGINT) AS n_orig,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM dec GROUP BY lang ORDER BY lang""".stripMargin,

    "q235_retention_drop" ->
      """WITH src AS (
        |  SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
        |         o_orderkey AS okey,
        |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price
        |  FROM orders),
        |live AS (SELECT * FROM src WHERE mon > 3)
        |SELECT mon, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price) AS BIGINT) AS sum_price
        |FROM live GROUP BY mon ORDER BY mon""".stripMargin,

    "q236_zipf_slope" ->
      """WITH tf AS (
        |  SELECT lang, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents WHERE text IS NOT NULL)
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT lang, c, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY c DESC, w) AS BIGINT) AS rk
        |  FROM tf),
        |q AS (
        |  SELECT lang,
        |    CAST(FLOOR(ln(CAST(rk AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |    CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |  FROM rk WHERE rk <= 20),
        |sums AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM q GROUP BY lang)
        |SELECT lang, n_terms,
        |  round(CAST(n_terms * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_terms * sxx - sx * sx AS DOUBLE), 6) AS slope
        |FROM sums ORDER BY lang""".stripMargin,

    "q237_image_neardup" ->
      """WITH ids AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
        |hx AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 62), b ->
        |      CASE WHEN
        |        ((doc_id // 7 * 2003 + ((b % 8) + 1) * 89 + (b // 8) * 41) % 211
        |          + CASE WHEN (b % 8) + 1 = doc_id % 9 AND b // 8 = doc_id % 8
        |                 THEN 12 ELSE 0 END)
        |        >
        |        ((doc_id // 7 * 2003 + (b % 8) * 89 + (b // 8) * 41) % 211
        |          + CASE WHEN b % 8 = doc_id % 9 AND b // 8 = doc_id % 8
        |                 THEN 12 ELSE 0 END)
        |      THEN 1::BIGINT << b ELSE 0 END)) AS BIGINT) AS dhash
        |  FROM ids),
        |bands AS (
        |  SELECT doc_id, dhash, i AS band, (dhash >> (i * 9)) & 511 AS bkey
        |  FROM hx, unnest(generate_series(0, 6)) AS u(i)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS ham
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, ham FROM cand WHERE ham <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    "q238_audio_fingerprint" ->
      """WITH ids AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |s AS (
        |  SELECT doc_id, list_transform(generate_series(1, 1024),
        |    i -> ((doc_id // 5 + 1) * i * 48271) % 8192 - 4096
        |      + CASE WHEN (i - 1) // 16 = doc_id % 64 THEN 500 ELSE 0 END) AS l
        |  FROM ids),
        |e AS (
        |  SELECT doc_id, list_transform(generate_series(0, 63),
        |    f -> list_sum(list_transform(generate_series(1, 16),
        |      i -> abs(l[f * 16 + i])))) AS en
        |  FROM s),
        |hx AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 62), b ->
        |      CASE WHEN en[b + 2] > en[b + 1]
        |           THEN 1::BIGINT << b ELSE 0 END)) AS BIGINT) AS fp
        |  FROM e),
        |bands AS (
        |  SELECT doc_id, fp, i AS band, (fp >> (i * 9)) & 511 AS bkey
        |  FROM hx, unnest(generate_series(0, 6)) AS u(i)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS ham
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, ham FROM cand WHERE ham <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    "q239_commit_operations" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k FROM orders),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS c FROM base WHERE k % 3 = 1),
        |up AS (SELECT CAST(count(*) AS BIGINT) AS c FROM base WHERE k % 30 = 0),
        |live AS (SELECT CAST(count(*) AS BIGINT) AS c FROM base
        |         WHERE k % 3 IN (0, 1) AND k % 7 <> 0)
        |SELECT CAST(v.o AS BIGINT) AS ordinal, v.op AS operation,
        |  CAST(v.f AS BIGINT) AS added_data_files,
        |  CAST(v.r AS BIGINT) AS added_records
        |FROM (VALUES
        |  (1, 'append', 1, (SELECT c FROM b)),
        |  (2, 'overwrite', 1, (SELECT c FROM up)),
        |  (3, 'delete', 0, 0),
        |  (4, 'replace', 1, (SELECT c FROM live))) v(o, op, f, r)
        |ORDER BY ordinal""".stripMargin,

    "q240_curation_capstone" ->
      """WITH src AS (
        |  SELECT lang, doc_id, n_chars,
        |    (10000 * (CAST(len(string_split(text, ' ')) AS BIGINT)
        |      - CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)))
        |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS dupw_bp
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 1),
        |live AS (
        |  SELECT * FROM src WHERE lang <> 'zh' AND dupw_bp <= 8500)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(max(dupw_bp) AS BIGINT) AS max_dupw_bp
        |FROM live GROUP BY lang ORDER BY lang""".stripMargin,

    "q241_scene_cuts" ->
      """WITH ids AS (
        |  SELECT doc_id, 3 + doc_id % 7 AS cut FROM documents
        |  WHERE doc_id % 11 = 0),
        |fr AS (
        |  SELECT doc_id, cut, list_transform(generate_series(0, 11), f ->
        |    list_transform(generate_series(0, 71), p ->
        |      CASE WHEN f < cut
        |        THEN (doc_id // 7 * 53 + (p % 9) * 29 + (p // 9) * 13
        |              + 3 * f) % 251
        |        ELSE (doc_id // 7 * 71 + (p % 9) * 41 + (p // 9) * 23
        |              + 3 * f + 128) % 251
        |      END)) AS v
        |  FROM ids),
        |d AS (
        |  SELECT doc_id, v, list_transform(generate_series(1, 11), f ->
        |      list_sum(list_transform(generate_series(1, 72),
        |        p -> abs(v[f + 1][p] - v[f][p])))) AS deltas
        |  FROM fr)
        |SELECT doc_id, CAST(12 AS BIGINT) AS n_frames,
        |  CAST(list_position(deltas, list_max(deltas)) AS BIGINT) AS cut_at,
        |  CAST(list_max(deltas) AS BIGINT) AS max_delta,
        |  CAST(list_sum(list_transform(v, fx -> list_sum(fx))) AS BIGINT)
        |    AS total_intensity,
        |  CAST(list_position(deltas, list_max(deltas)) AS BIGINT)
        |    = 3 + doc_id % 7 AS cut_correct
        |FROM d ORDER BY doc_id""".stripMargin,

    "q242_media_dispatch_audit" ->
      """WITH ids AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |    n_chars
        |  FROM documents WHERE doc_id % 13 = 0),
        |dims AS (
        |  SELECT kind,
        |    CASE kind WHEN 'image' THEN 9 WHEN 'audio' THEN 1 ELSE 9 END AS w,
        |    CASE kind WHEN 'image' THEN 8 WHEN 'audio' THEN 0 ELSE 8 END AS h,
        |    CASE kind WHEN 'image' THEN 1
        |         WHEN 'audio' THEN 64 + n_chars % 128 ELSE 12 END AS fr
        |  FROM ids)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n_media,
        |  CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h,
        |  CAST(sum(fr) AS BIGINT) AS sum_frames
        |FROM dims GROUP BY kind ORDER BY kind""".stripMargin,

    "q243_incremental_psi" ->
      """WITH d AS (
        |  SELECT lang, n_chars // 64 AS bkt FROM documents
        |  WHERE text IS NOT NULL),
        |h1 AS (SELECT bkt, CAST(count(*) AS BIGINT) AS c1 FROM d
        |       WHERE lang = 'en' GROUP BY 1),
        |h2 AS (SELECT bkt, CAST(count(*) AS BIGINT) AS c2 FROM d
        |       WHERE bkt <> 0 GROUP BY 1),
        |buckets AS (SELECT bkt FROM h1 UNION SELECT bkt FROM h2),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM buckets),
        |n1 AS (SELECT CAST(sum(c1) AS BIGINT) AS n1 FROM h1),
        |n2 AS (SELECT CAST(sum(c2) AS BIGINT) AS n2 FROM h2),
        |terms AS (
        |  SELECT CAST(FLOOR(
        |    (CAST(coalesce(c2, 0) + 1 AS DOUBLE) / (n2.n2 + nb.b)
        |      - CAST(coalesce(c1, 0) + 1 AS DOUBLE) / (n1.n1 + nb.b))
        |    * ln((CAST(coalesce(c2, 0) + 1 AS DOUBLE) / (n2.n2 + nb.b))
        |        / (CAST(coalesce(c1, 0) + 1 AS DOUBLE) / (n1.n1 + nb.b)))
        |    * 1e6) AS BIGINT) AS term_micro
        |  FROM buckets LEFT JOIN h1 USING (bkt) LEFT JOIN h2 USING (bkt)
        |  CROSS JOIN nb CROSS JOIN n1 CROSS JOIN n2)
        |SELECT CAST(sum(term_micro) AS BIGINT) AS psi_micro,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  (SELECT n1 FROM n1) AS rows_before,
        |  (SELECT n2 FROM n2) AS rows_after
        |FROM terms""".stripMargin,

    // q244: survivors = the two inserted quarters minus the row-level
    // DELETE; the third insert is rolled back, expire + orphan removal
    // are metadata-only — so the final table state recomputes from the
    // base relation alone
    "q244_sql_maintenance" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders
        |WHERE o_orderkey % 4 IN (0, 1) AND o_orderkey % 10 <> 3
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q245: the import is zero-copy, so the onboarded table IS the raw
    // parquet; the NDV scalars are exact (domains far below the sketch
    // size) and recompute as count(DISTINCT ...) scalar subqueries
    "q245_add_files_onboarding" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents,
        |  (SELECT CAST(count(DISTINCT l_returnflag) AS BIGINT) FROM lineitem)
        |    AS ndv_returnflag,
        |  (SELECT CAST(count(DISTINCT l_linestatus) AS BIGINT) FROM lineitem)
        |    AS ndv_linestatus
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // q246: prod = (%3=0 minus %100<10) plus (%3=1); sandbox = the clone
    // point (%3=0 minus %100<10) minus the price gate — pure predicate
    // algebra over the base relation, no clone state needed
    "q246_snapshot_sandbox" ->
      """SELECT * FROM (
        |  SELECT 'prod' AS side, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |  FROM orders
        |  WHERE (o_orderkey % 3 = 0 AND o_orderkey % 100 >= 10)
        |     OR o_orderkey % 3 = 1
        |  GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT 'sandbox' AS side, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |  FROM orders
        |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 100 >= 10
        |    AND o_totalprice >= 150000.0
        |  GROUP BY o_orderpriority
        |) ORDER BY side, o_orderpriority""".stripMargin,

    // q247: both eras minus the cross-era delete, straight predicate
    // algebra — spec evolution is metadata-only, so the readable rows
    // recompute from the base relation alone
    "q247_partition_evolution" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |  CAST(count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS BIGINT)
        |    AS n_era1,
        |  CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT)
        |    AS n_era2
        |FROM orders
        |WHERE o_orderkey % 10 <> 9
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q248: the same histogram-collapsed Mann-Whitney, windows over the
    // (scope, score) histogram — integer-exact numerator, one division
    "q248_roc_auc" ->
      """WITH scored AS (
        |  SELECT source,
        |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
        |      AS score,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |hist_all AS (
        |  SELECT score, CAST(sum(label) AS BIGINT) AS n1,
        |    CAST(sum(1 - label) AS BIGINT) AS n0
        |  FROM scored GROUP BY score),
        |cum_all AS (
        |  SELECT *, COALESCE(sum(n0) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS n0_below
        |  FROM hist_all),
        |hist_src AS (
        |  SELECT source, score, CAST(sum(label) AS BIGINT) AS n1,
        |    CAST(sum(1 - label) AS BIGINT) AS n0
        |  FROM scored GROUP BY source, score),
        |cum_src AS (
        |  SELECT *, COALESCE(sum(n0) OVER (PARTITION BY source
        |    ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS n0_below
        |  FROM hist_src)
        |SELECT * FROM (
        |  SELECT '__all__' AS scope,
        |    CAST(sum(n1) AS BIGINT) AS n_pos,
        |    CAST(sum(n0) AS BIGINT) AS n_neg,
        |    CAST(sum(n1 * n0_below * 2 + n1 * n0) AS BIGINT) AS u2,
        |    round(CAST(sum(n1 * n0_below * 2 + n1 * n0) AS DOUBLE)
        |      / CAST(sum(n1) * sum(n0) * 2 AS DOUBLE), 6) AS auc
        |  FROM cum_all
        |  UNION ALL
        |  SELECT source AS scope,
        |    CAST(sum(n1) AS BIGINT), CAST(sum(n0) AS BIGINT),
        |    CAST(sum(n1 * n0_below * 2 + n1 * n0) AS BIGINT),
        |    round(CAST(sum(n1 * n0_below * 2 + n1 * n0) AS DOUBLE)
        |      / CAST(sum(n1) * sum(n0) * 2 AS DOUBLE), 6)
        |  FROM cum_src GROUP BY source
        |) ORDER BY scope""".stripMargin,

    // q249: the same sweep via windowed cumulative counts over the score
    // histogram; argmax by (f1 DESC, threshold ASC)
    "q249_f1_threshold" ->
      """WITH scored AS (
        |  SELECT
        |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
        |      AS score,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |hist AS (
        |  SELECT score, CAST(sum(label) AS BIGINT) AS n1,
        |    CAST(sum(1 - label) AS BIGINT) AS n0
        |  FROM scored GROUP BY score),
        |cum AS (
        |  SELECT score,
        |    COALESCE(sum(n1) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n1_below,
        |    COALESCE(sum(n0) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n0_below,
        |    (SELECT sum(n1) FROM hist) AS t1,
        |    (SELECT sum(n0) FROM hist) AS t0
        |  FROM hist),
        |conf AS (
        |  SELECT score AS threshold,
        |    t1 - n1_below AS tp, t0 - n0_below AS fp, n1_below AS fn,
        |    CASE WHEN (t1 - n1_below) * 2 + (t0 - n0_below) + n1_below = 0
        |      THEN 0.0
        |      ELSE CAST((t1 - n1_below) * 2 AS DOUBLE)
        |        / CAST((t1 - n1_below) * 2 + (t0 - n0_below) + n1_below
        |            AS DOUBLE) END AS f1
        |  FROM cum)
        |SELECT CAST(threshold AS BIGINT) AS threshold,
        |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(fn AS BIGINT) AS fn, round(f1, 6) AS f1
        |FROM conf ORDER BY f1 DESC, threshold ASC LIMIT 1""".stripMargin,

    // q250: the same exact-integer kappa from the 4-cell confusion matrix
    "q250_cohens_kappa" ->
      """WITH rated AS (
        |  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN length(text) - length(replace(text, ' ', '')) >= 54
        |      THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |cm AS (
        |  SELECT CAST(sum(a * b) AS BIGINT) AS both_pos,
        |    CAST(sum(a * (1 - b)) AS BIGINT) AS a_only,
        |    CAST(sum((1 - a) * b) AS BIGINT) AS b_only,
        |    CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS both_neg
        |  FROM rated)
        |SELECT both_pos, a_only, b_only, both_neg,
        |  round(CAST((both_pos + a_only + b_only + both_neg)
        |      * (both_pos + both_neg)
        |      - ((both_pos + a_only) * (both_pos + b_only)
        |        + (b_only + both_neg) * (a_only + both_neg)) AS DOUBLE)
        |    / CAST((both_pos + a_only + b_only + both_neg)
        |      * (both_pos + a_only + b_only + both_neg)
        |      - ((both_pos + a_only) * (both_pos + b_only)
        |        + (b_only + both_neg) * (a_only + both_neg)) AS DOUBLE), 6)
        |    AS kappa
        |FROM cm""".stripMargin,

    // q251: DuckDB's own nfc_normalize over the same two code-point
    // spellings (chr(233)=U+00E9 precomposed, chr(769)/chr(768) the
    // combining acute/grave)
    "q251_nfc_dedup" ->
      """WITH v AS (
        |  SELECT lang, text || ' caf' || chr(233) || ' d' || chr(233)
        |    || 'j' || chr(224) AS variant FROM documents
        |  UNION ALL
        |  SELECT lang, text || ' cafe' || chr(769) || ' de' || chr(769)
        |    || 'ja' || chr(768) FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_variants,
        |  CAST(count(DISTINCT variant) AS BIGINT) AS distinct_raw,
        |  CAST(count(DISTINCT nfc_normalize(variant)) AS BIGINT)
        |    AS distinct_nfc
        |FROM v GROUP BY lang ORDER BY lang""".stripMargin,

    // q252: same margin math, neighborhood sums assembled in the same
    // fixed rank order (list_sum folds left-to-right like DoubleArrayDot
    // — the q29 determinism precedent)
    "q252_bitext_mining" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_sum(list_apply(range(1, len(v) + 1), i -> v[i] * v[i]))) AS nrm
        |  FROM e),
        |src AS (SELECT vec_id AS src_id, v AS sv, nrm AS sn FROM n WHERE vec_id % 2 = 0),
        |tgt AS (SELECT vec_id AS tgt_id, v AS tv, nrm AS tn FROM n WHERE vec_id % 2 = 1),
        |pairs AS (
        |  SELECT src_id, tgt_id,
        |    list_sum(list_apply(range(1, len(sv) + 1), i -> sv[i] * tv[i]))
        |      / (sn * tn) AS cos
        |  FROM src, tgt),
        |rs AS (SELECT *, row_number() OVER (PARTITION BY src_id
        |         ORDER BY cos DESC, tgt_id) AS rk FROM pairs),
        |sx AS (SELECT src_id,
        |    max(CASE WHEN rk = 1 THEN cos END) + max(CASE WHEN rk = 2 THEN cos END)
        |    + max(CASE WHEN rk = 3 THEN cos END) + max(CASE WHEN rk = 4 THEN cos END)
        |      AS nn_src
        |  FROM rs WHERE rk <= 4 GROUP BY src_id),
        |rt AS (SELECT *, row_number() OVER (PARTITION BY tgt_id
        |         ORDER BY cos DESC, src_id) AS rk FROM pairs),
        |sy AS (SELECT tgt_id,
        |    max(CASE WHEN rk = 1 THEN cos END) + max(CASE WHEN rk = 2 THEN cos END)
        |    + max(CASE WHEN rk = 3 THEN cos END) + max(CASE WHEN rk = 4 THEN cos END)
        |      AS nn_tgt
        |  FROM rt WHERE rk <= 4 GROUP BY tgt_id),
        |m AS (
        |  SELECT p.src_id, p.tgt_id,
        |    p.cos / ((sx.nn_src + sy.nn_tgt) / 8.0) AS margin
        |  FROM pairs p JOIN sx USING (src_id) JOIN sy USING (tgt_id)),
        |bs AS (SELECT src_id, tgt_id AS best_tgt, margin AS m_src FROM (
        |    SELECT *, row_number() OVER (PARTITION BY src_id
        |      ORDER BY margin DESC, tgt_id) AS r FROM m) WHERE r = 1),
        |bt AS (SELECT tgt_id, src_id AS best_src FROM (
        |    SELECT *, row_number() OVER (PARTITION BY tgt_id
        |      ORDER BY margin DESC, src_id) AS r FROM m) WHERE r = 1)
        |SELECT bs.src_id, bs.best_tgt AS tgt_id, round(bs.m_src, 4) AS margin
        |FROM bs JOIN bt ON bs.best_tgt = bt.tgt_id AND bt.best_src = bs.src_id
        |ORDER BY src_id""".stripMargin,

    // q253: survivors = all orders minus the two DV predicates — the
    // container format is invisible to the logical result
    "q253_deletion_vectors" ->
      """SELECT o_orderpriority AS prio, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders
        |WHERE o_orderkey % 10 <> 3 AND o_orderkey % 100 <> 42
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
