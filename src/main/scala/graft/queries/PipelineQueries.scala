package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.pipeline.{Dedup, Multimodal, Similarity}

/**
 * Training-data pipeline operators as driver-checkable queries over the
 * `documents` / `embeddings` fixtures. SQL-expressible ops carry DuckDB
 * oracles; LSH/heuristic ops are rows-only here and are instead
 * verified by planted-duplicate recall specs (PipelineSpec).
 */
object PipelineQueries {

  /** documents ∪ perturbed copies (last ~10% of tokens dropped,
    * id + 1e6) — a deterministic corpus where every original has
    * exactly one planted near-duplicate, so near-dup queries have
    * known-true answers. */
  /** Perturbed near-dup copies of every document (last ~10% of tokens
    * dropped, id + 1e6) — the planted "delta batch" half of
    * [[plantedCorpus]], also used on its own as the incremental-dedup
    * new-batch fixture. */
  def plantedDelta(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val toks = TextFunctions.tokens(col("text"))
    val keep = greatest(floor((size(toks) * 9) / 10).cast("int"), lit(1))
    docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      array_join(slice(toks, lit(1), keep), " ").as("text"))
  }

  def plantedCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text")
      .unionByName(plantedDelta(s, dir))

  /** Query vector: embedding of vec_id 7 (driver-side lookup). */
  private def queryVec(s: SparkSession, dir: String): Array[Double] =
    Tables.embeddings(s, dir).where(col("vec_id") === 7)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------------------------------------------------- dedup
    "dedup_exact" -> { (s, dir) =>
      Dedup.exactGroups(plantedCorpus(s, dir).unionByName(
        // plant exact duplicates too: ids shifted by 2e6, text unchanged
        Tables.documents(s, dir).select((col("doc_id") + 2000000L).as("doc_id"), col("text"))),
        "doc_id", "text")
    },

    "dedup_exact_keep" -> { (s, dir) =>
      val corpus = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .unionByName(Tables.documents(s, dir)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      Dedup.exactDedup(corpus, "doc_id", "text").select("doc_id")
    },

    "dedup_minhash" -> { (s, dir) =>
      Dedup.minhashPairs(plantedCorpus(s, dir), "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
    },

    "dedup_simhash" -> { (s, dir) =>
      Dedup.simhashPairs(plantedCorpus(s, dir), "doc_id", "text", maxHamming = 3)
    },

    "dedup_incremental" -> { (s, dir) =>
      // corpus-growth path: the NEW batch (perturbed copies) checks in
      // against the EXISTING corpus — cross-set bucket collisions only,
      // no corpus x corpus pair work
      Dedup.minhashPairsIncremental(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        plantedDelta(s, dir), "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
    },

    "dedup_ngram" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(plantedCorpus(s, dir), "doc_id", "text",
        shingleN = 3, threshold = 0.6)
    },

    "dedup_containment" -> { (s, dir) =>
      // asymmetric near-dup: the planted corpus drops the last ~10% of
      // tokens, so perturbed shingle sets are near-SUBSETS of their
      // originals — containment flags them at ~1.0 where Jaccard reads
      // only ~0.8
      Dedup.containmentPairs(plantedCorpus(s, dir), "doc_id", "text",
        shingleN = 3, threshold = 0.9)
    },

    "dedup_keeper_quality" -> { (s, dir) =>
      // quality-aware keeper election: per near-dup cluster keep the
      // HIGHEST-quality member, not the smallest id — the curation
      // policy real pipelines use (drop the truncated/boilerplate copy,
      // keep the clean one). Composes two independently proven
      // pipelines: connected components over minhash pairs + the
      // quality score
      import org.apache.spark.sql.expressions.Window
      val corpus = plantedCorpus(s, dir)
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      val clusters = Dedup.resolveClusters(pairs)
      val qual = corpus.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("q"))
      clusters.join(qual, col("id") === col("doc_id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("keep_id")).orderBy(col("q").desc, col("id"))))
        .filter(col("rn") === 1)
        // unrounded: quality doubles are bit-identical cross-engine and
        // rounding is the only hazard (half-boundary values round
        // differently per engine — observed at sf0.1)
        .select(col("keep_id").as("cluster"), col("id").as("keeper_id"),
          col("q").as("quality"))
    },

    "dedup_clusters" -> { (s, dir) =>
      // pairs -> connected components -> keeper per cluster: the final
      // step that turns near-dup PAIRS into a deduplicated corpus
      val pairs = Dedup.minhashPairs(plantedCorpus(s, dir), "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      Dedup.resolveClusters(pairs)
        .select(col("id").as("doc_id"), col("keep_id"))
    },

    "text_redact" -> { (s, dir) =>
      // inject deterministic PII (the synthetic corpus has none), then
      // redact emails/URLs/phone runs; the oracle replays the same
      // injection + the same lookaround-free regex passes
      val withPii = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" Contact user"), col("doc_id"),
          lit("@example.com or https://ex.org/u/"), col("doc_id"),
          lit(" or call +1 (555) 010-"), col("doc_id"), lit(".")).as("t"))
      withPii.select(col("doc_id"),
        TextFunctions.redactPii(col("t")).as("redacted"),
        TextFunctions.piiCount(col("t")).cast("long").as("n_pii"))
    },

    // ----------------------------------------------- embedding similarity
    "embed_pairs" -> { (s, dir) =>
      Dedup.embeddingPairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)
    },

    "embed_pairs_lsh" -> { (s, dir) =>
      Dedup.embeddingPairsLsh(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.4, dim = 64)
    },

    // SemDeDup shape: IVF-style k-means clusters bound the candidate
    // set, exact cosine verifies within clusters only — the oracle
    // replays the whole chain (Lloyd training, cc − 2·dot assignment,
    // in-cluster pairing, dot verdicts) bit-for-bit
    "dedup_semantic" -> { (s, dir) =>
      Dedup.semanticPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          threshold = 0.4)
        .select(col("a"), col("b"), round(col("cos"), 2).as("cos"))
    },

    // substring-level dedup: maximal ≥8-token spans shared verbatim
    // across documents — each planted near-dup shares its 90% prefix
    // with the original, so every doc carries exactly one known span
    "dedup_spans" -> { (s, dir) =>
      Dedup.duplicatedSpans(plantedCorpus(s, dir), "doc_id", "text", k = 8)
    },

    // span-level admission check for a new batch: the planted delta's
    // windows all exist in the standing corpus (each delta doc is a
    // 90% prefix of an original), so every delta doc surfaces its
    // full window range as one span
    "dedup_spans_incremental" -> { (s, dir) =>
      Dedup.duplicatedSpansAgainst(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        plantedDelta(s, dir), "doc_id", "text", k = 8)
    },

    // the zero-shuffle bloom variant of the same admission check: the
    // corpus reduces to a broadcast bitset, the delta never shuffles;
    // the oracle replays the bloom arithmetic bit-for-bit, so false
    // positives (if the fill produces any) match exactly too
    "dedup_spans_bloom" -> { (s, dir) =>
      Dedup.duplicatedSpansAgainstBloom(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        plantedDelta(s, dir), "doc_id", "text", k = 8)
    },

    "ann_brute" -> { (s, dir) =>
      Similarity.bruteAbove(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryVec(s, dir), 0.2)
    },

    "ann_batch_topk" -> { (s, dir) =>
      // BATCH ANN join: top-k corpus neighbors for EVERY query row in
      // one job (retrieval / decontamination shape) — corpus assigned
      // to IVF lists once, each query explodes into its nprobe lists,
      // one equi-join on the list id bounds the pairs, a per-query
      // window takes k. nprobe = nlist here, so every query's answer
      // equals exact per-query brute force — the oracle's cross-join
      // window computes exactly that.
      val emb = Tables.embeddings(s, dir)
      val queries = emb.where(col("vec_id") % 101 === 7)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.ivfTopKJoin(emb, "vec_id", queries, "qid", "embedding",
        k = 5, nlist = 16, nprobe = 16)
    },

    "ann_lsh_topk" -> { (s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryVec(s, dir), k = 20, dim = 64)
    },

    "ann_ivf_topk" -> { (s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryVec(s, dir), k = 20, nlist = 16, nprobe = 6)
    },

    "ann_ivf_saved" -> { (s, dir) =>
      // the PRODUCTION ANN shape: build the IVF index ONCE on disk
      // (assignments parquet partitioned by coarse list, centroids
      // alongside), then answer the query by reading only the probed
      // list partitions — same build parameters as ann_ivf_topk, so
      // the saved-index search must reproduce it bit-for-bit
      val path = OperatorQueries.registerTempDirForCleanup(
        java.nio.file.Files.createTempDirectory("graft_ivf_saved"))
      Similarity.ivfBuild(Tables.embeddings(s, dir), "vec_id", "embedding",
        path, nlist = 16)
      Similarity.ivfSearchSaved(s, path, "vec_id", queryVec(s, dir),
        k = 20, nprobe = 6)
    },

    "ann_ivf_appended" -> { (s, dir) =>
      // ANN corpus growth: build the saved index on the first 512 ids
      // (exactly the quantizer's training sample, so centroids match
      // the one-shot build), APPEND the remaining vectors without
      // retraining — the existing assignments are never read or
      // rewritten — and search the grown index. Bit-identical to
      // ann_ivf_topk, which is the lane's oracle.
      val emb = Tables.embeddings(s, dir)
      val path = OperatorQueries.registerTempDirForCleanup(
        java.nio.file.Files.createTempDirectory("graft_ivf_appended"))
      Similarity.ivfBuild(emb.filter(col("vec_id") < 512),
        "vec_id", "embedding", path, nlist = 16)
      Similarity.ivfAppend(s, path, emb.filter(col("vec_id") >= 512),
        "vec_id", "embedding")
      Similarity.ivfSearchSaved(s, path, "vec_id", queryVec(s, dir),
        k = 20, nprobe = 6)
    },

    "ann_catalog_topk" -> { (s, dir) =>
      // the DURABLE vector index as first-class catalog DDL: CREATE
      // INDEX ... USING IVF persists the list-partitioned layout
      // beside the table's delta log, DML maintains it at DELTA cost
      // (appends against the saved centroids; deletes resolve at probe
      // time via the liveness join), and a REOPENED session probes
      // through the graft_ann TVF reading only the probed lists — no
      // rebuild, no corpus rescan. nprobe = nlist here, so the result
      // must EQUAL exact brute-force top-k over the LIVE (mutated)
      // content — which is what the oracle computes.
      val path = graft.LaneDirs.path("graft_cat_lane_ann")
      s.sql("DROP TABLE IF EXISTS graft_cat_ann")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.embeddings(s, dir).createOrReplaceTempView("cat_ann_src")
      s.sql(s"""CREATE TABLE graft_cat_ann USING graft
        |OPTIONS (key 'vec_id') LOCATION '$path'
        |AS SELECT vec_id, embedding FROM cat_ann_src""".stripMargin)
      s.sql("CREATE INDEX emb ON graft_cat_ann USING IVF (embedding)")
      s.sql("DELETE FROM graft_cat_ann WHERE vec_id % 97 = 3")
      s.sql("""INSERT INTO graft_cat_ann
        |SELECT vec_id + 100000, embedding FROM cat_ann_src
        |WHERE vec_id < 8""".stripMargin)
      val lit = queryVec(s, dir).map(_.toString)
        .mkString("array(", ", ", ")")
      val s2 = s.newSession() // cold probe: the index must be durable
      s2.sql(s"""SELECT vec_id, cos FROM
        |graft_ann('graft_cat_ann', 'emb', $lit, 20, 16)""".stripMargin)
    },

    "ann_catalog_batch_topk" -> { (s, dir) =>
      // BATCH retrieval against the DURABLE index through SQL: one
      // graft_ann_batch call answers every row of a queries view from
      // the saved assignment (per-query probe lists -> one equi-join
      // on the list partition column, DPP prunes unprobed dirs). A
      // REOPENED session probes; nprobe = nlist, so each query's
      // answer equals exact brute force over the live mutated content
      // — the oracle's cross-join window per query.
      val path = graft.LaneDirs.path("graft_cat_lane_annb")
      s.sql("DROP TABLE IF EXISTS graft_cat_annb")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.embeddings(s, dir).createOrReplaceTempView("cat_annb_src")
      s.sql(s"""CREATE TABLE graft_cat_annb USING graft
        |OPTIONS (key 'vec_id') LOCATION '$path'
        |AS SELECT vec_id, embedding FROM cat_annb_src""".stripMargin)
      s.sql("CREATE INDEX emb ON graft_cat_annb USING IVF (embedding)")
      s.sql("DELETE FROM graft_cat_annb WHERE vec_id % 97 = 3")
      s.sql("""INSERT INTO graft_cat_annb
        |SELECT vec_id + 100000, embedding FROM cat_annb_src
        |WHERE vec_id < 8""".stripMargin)
      val s2 = s.newSession() // cold: the index must serve the batch
      Tables.embeddings(s2, dir)
        .where(col("vec_id").isin(7L, 20L, 33L))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .createOrReplaceTempView("cat_annb_queries")
      s2.sql("""SELECT qid, vec_id, cos FROM graft_ann_batch(
        |'graft_cat_annb', 'emb', 'cat_annb_queries', 'qid', 'qv',
        |5, 16)""".stripMargin)
    },

    "ann_catalog_batch_pq_topk" -> { (s, dir) =>
      // BATCH retrieval against the durable IVFPQ index: each query
      // row computes its own ADC lookup table as a codegen'd column
      // over the broadcast codebooks (never collected), scores the
      // probed codes, shortlists 16·k per query, and re-ranks exactly
      // against the live primary — one job for the whole batch instead
      // of one driver round-trip per query. nprobe = nlist and the
      // oracle replays sample, codebooks, per-query ADC and re-rank
      // bit-for-bit over the mutated content.
      val path = graft.LaneDirs.path("graft_cat_lane_annbpq")
      s.sql("DROP TABLE IF EXISTS graft_cat_annbpq")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.embeddings(s, dir).createOrReplaceTempView("cat_annbpq_src")
      s.sql(s"""CREATE TABLE graft_cat_annbpq USING graft
        |OPTIONS (key 'vec_id') LOCATION '$path'
        |AS SELECT vec_id, embedding FROM cat_annbpq_src""".stripMargin)
      s.sql("CREATE INDEX epq ON graft_cat_annbpq USING IVFPQ (embedding)")
      s.sql("DELETE FROM graft_cat_annbpq WHERE vec_id % 97 = 3")
      s.sql("""INSERT INTO graft_cat_annbpq
        |SELECT vec_id + 100000, embedding FROM cat_annbpq_src
        |WHERE vec_id < 8""".stripMargin)
      val s2 = s.newSession() // cold: the index must serve the batch
      Tables.embeddings(s2, dir)
        .where(col("vec_id").isin(7L, 20L, 33L))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .createOrReplaceTempView("cat_annbpq_queries")
      s2.sql("""SELECT qid, vec_id, cos FROM graft_ann_batch(
        |'graft_cat_annbpq', 'epq', 'cat_annbpq_queries', 'qid', 'qv',
        |5, 16)""".stripMargin)
    },

    "ann_catalog_batch_filtered_topk" -> { (s, dir) =>
      // FILTERED batch retrieval: graft_ann_batch's 8th arg is the
      // same pool-before-top-k SQL predicate as graft_ann's — each
      // query's k best AMONG live rows matching the filter, still one
      // job and still reading only the batch's probed lists.
      val path = graft.LaneDirs.path("graft_cat_lane_annbf")
      s.sql("DROP TABLE IF EXISTS graft_cat_annbf")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.embeddings(s, dir).createOrReplaceTempView("cat_annbf_src")
      s.sql(s"""CREATE TABLE graft_cat_annbf USING graft
        |OPTIONS (key 'vec_id') LOCATION '$path'
        |AS SELECT vec_id, embedding, label FROM cat_annbf_src""".stripMargin)
      s.sql("CREATE INDEX emb ON graft_cat_annbf USING IVF (embedding)")
      s.sql("DELETE FROM graft_cat_annbf WHERE vec_id % 97 = 3")
      s.sql("""INSERT INTO graft_cat_annbf
        |SELECT vec_id + 100000, embedding, label FROM cat_annbf_src
        |WHERE vec_id < 8""".stripMargin)
      val s2 = s.newSession() // cold: the index must serve the batch
      Tables.embeddings(s2, dir)
        .where(col("vec_id").isin(7L, 20L, 33L))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .createOrReplaceTempView("cat_annbf_queries")
      s2.sql("""SELECT qid, vec_id, cos FROM graft_ann_batch(
        |'graft_cat_annbf', 'emb', 'cat_annbf_queries', 'qid', 'qv',
        |5, 16, 'label % 3 = 0 AND vec_id <> 11')""".stripMargin)
    },

    "ann_catalog_reindexed_topk" -> { (s, dir) =>
      // the drift remedy under the oracle gate: OPTIMIZE ... REINDEX
      // retrains centroids on a fresh sample of the LIVE content and
      // re-assigns every row via the staged-sibling swap. Content is
      // unchanged by definition, and nprobe = nlist is exact for ANY
      // centroids — so the reopened-session probe must still equal
      // brute-force top-k over the live mutated content.
      val path = graft.LaneDirs.path("graft_cat_lane_annr")
      s.sql("DROP TABLE IF EXISTS graft_cat_annr")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.embeddings(s, dir).createOrReplaceTempView("cat_annr_src")
      s.sql(s"""CREATE TABLE graft_cat_annr USING graft
        |OPTIONS (key 'vec_id') LOCATION '$path'
        |AS SELECT vec_id, embedding FROM cat_annr_src""".stripMargin)
      s.sql("CREATE INDEX emb ON graft_cat_annr USING IVF (embedding)")
      s.sql("DELETE FROM graft_cat_annr WHERE vec_id % 97 = 3")
      s.sql("""INSERT INTO graft_cat_annr
        |SELECT vec_id + 100000, embedding FROM cat_annr_src
        |WHERE vec_id < 8""".stripMargin)
      s.sql("OPTIMIZE graft_cat_annr REINDEX emb")
      val lit = queryVec(s, dir).map(_.toString)
        .mkString("array(", ", ", ")")
      val s2 = s.newSession() // cold probe over the retrained layout
      s2.sql(s"""SELECT vec_id, cos FROM
        |graft_ann('graft_cat_annr', 'emb', $lit, 20, 16)""".stripMargin)
    },

    "ann_catalog_at_topk" -> { (s, dir) =>
      // VECTOR-PROBE TIME TRAVEL: graft_ann_at probes a VERSION AS OF
      // snapshot. The durable index tracks the LIVE table (an update's
      // re-appended vector supersedes its old assignment at probe
      // time), so a historical probe is served as an EXACT scan of the
      // versioned snapshot by design — serving live lists to a
      // time-travel reader would be silently wrong. Probing the
      // PRE-DML version must therefore equal brute-force top-k over
      // the ORIGINAL corpus, no matter what committed afterwards.
      val path = graft.LaneDirs.path("graft_cat_lane_annat")
      s.sql("DROP TABLE IF EXISTS graft_cat_annat")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.embeddings(s, dir).createOrReplaceTempView("cat_annat_src")
      s.sql(s"""CREATE TABLE graft_cat_annat USING graft
        |OPTIONS (key 'vec_id') LOCATION '$path'
        |AS SELECT vec_id, embedding FROM cat_annat_src""".stripMargin)
      s.sql("CREATE INDEX emb ON graft_cat_annat USING IVF (embedding)")
      val v0 = s.sql(
        "SELECT max(version) FROM graft_history('graft_cat_annat')")
        .collect()(0).getLong(0)
      s.sql("DELETE FROM graft_cat_annat WHERE vec_id % 97 = 3")
      s.sql("""INSERT INTO graft_cat_annat
        |SELECT vec_id + 100000, embedding FROM cat_annat_src
        |WHERE vec_id < 8""".stripMargin)
      val lit = queryVec(s, dir).map(_.toString)
        .mkString("array(", ", ", ")")
      val s2 = s.newSession() // cold historical probe off the durable log
      s2.sql(s"""SELECT vec_id, cos FROM
        |graft_ann_at('graft_cat_annat', 'emb', $v0, $lit, 20)""".stripMargin)
    },

    "ann_index_stats" -> { (s, dir) =>
      // drift OBSERVABILITY: graft_index_stats' oracle-stable identity
      // columns — (name, kind, vector column, nlist) from the index
      // meta plus the LIVE entry count, which on an un-churned table
      // is exactly the corpus's non-null vector count. The skew/dead
      // statistics are asserted by the drift spec
      // (GraftVectorIndexSpec: skew rises under a shifted ingest,
      // falls after REINDEX).
      val path = graft.LaneDirs.path("graft_cat_lane_annst")
      s.sql("DROP TABLE IF EXISTS graft_cat_annst")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.embeddings(s, dir).createOrReplaceTempView("cat_annst_src")
      s.sql(s"""CREATE TABLE graft_cat_annst USING graft
        |OPTIONS (key 'vec_id') LOCATION '$path'
        |AS SELECT vec_id, embedding FROM cat_annst_src""".stripMargin)
      s.sql("CREATE INDEX emb ON graft_cat_annst USING IVF (embedding)")
      val s2 = s.newSession() // the stats read the durable layout cold
      s2.sql("""SELECT name, kind, vector_column, nlist, live_entries
        |FROM graft_index_stats('graft_cat_annst')""".stripMargin)
    },

    "ann_catalog_optimized_topk" -> { (s, dir) =>
      // the maintenance-verb path under the oracle gate: after churn,
      // OPTIMIZE both folds the TABLE's deltas and COMPACTS the vector
      // index (dead entries rewrite away, buildVersion advances so the
      // probe re-arms its zero-join fast path) — content is unchanged
      // by definition, so the probe must still equal brute-force top-k
      // over the live mutated content (the ann_catalog_topk oracle),
      // now served from compacted lists in a reopened session.
      val path = graft.LaneDirs.path("graft_cat_lane_anno")
      s.sql("DROP TABLE IF EXISTS graft_cat_anno")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.embeddings(s, dir).createOrReplaceTempView("cat_anno_src")
      s.sql(s"""CREATE TABLE graft_cat_anno USING graft
        |OPTIONS (key 'vec_id') LOCATION '$path'
        |AS SELECT vec_id, embedding FROM cat_anno_src""".stripMargin)
      s.sql("CREATE INDEX emb ON graft_cat_anno USING IVF (embedding)")
      s.sql("DELETE FROM graft_cat_anno WHERE vec_id % 97 = 3")
      s.sql("""INSERT INTO graft_cat_anno
        |SELECT vec_id + 100000, embedding FROM cat_anno_src
        |WHERE vec_id < 8""".stripMargin)
      s.sql("OPTIMIZE graft_cat_anno")
      val lit = queryVec(s, dir).map(_.toString)
        .mkString("array(", ", ", ")")
      val s2 = s.newSession() // cold probe over the compacted index
      s2.sql(s"""SELECT vec_id, cos FROM
        |graft_ann('graft_cat_anno', 'emb', $lit, 20, 16)""".stripMargin)
    },

    "ann_catalog_filtered_topk" -> { (s, dir) =>
      // FILTERED vector search: graft_ann's 6th arg is a SQL predicate
      // over the table's columns, constraining the pool BEFORE top-k —
      // the k best among matching rows (a post-filter on unconstrained
      // top-k would return fewer). The predicate evaluates against the
      // LIVE snapshot (any column works, indexed or not) and rides the
      // same probe-bounded semi-join as the liveness check, so the
      // probe still reads only nprobe lists. nprobe = nlist here ->
      // must EQUAL brute-force top-k over the filtered live content,
      // which is what the oracle computes (including the DML: deletes
      // drop out, appended twins carry their label).
      val path = graft.LaneDirs.path("graft_cat_lane_annf")
      s.sql("DROP TABLE IF EXISTS graft_cat_annf")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.embeddings(s, dir).createOrReplaceTempView("cat_annf_src")
      s.sql(s"""CREATE TABLE graft_cat_annf USING graft
        |OPTIONS (key 'vec_id') LOCATION '$path'
        |AS SELECT vec_id, embedding, label FROM cat_annf_src""".stripMargin)
      s.sql("CREATE INDEX emb ON graft_cat_annf USING IVF (embedding)")
      s.sql("DELETE FROM graft_cat_annf WHERE vec_id % 97 = 3")
      s.sql("""INSERT INTO graft_cat_annf
        |SELECT vec_id + 100000, embedding, label FROM cat_annf_src
        |WHERE vec_id < 8""".stripMargin)
      val lit = queryVec(s, dir).map(_.toString)
        .mkString("array(", ", ", ")")
      val s2 = s.newSession() // cold probe: the index must be durable
      s2.sql(s"""SELECT vec_id, cos FROM
        |graft_ann('graft_cat_annf', 'emb', $lit, 20, 16,
        |  'label % 3 = 0 AND vec_id <> 11')""".stripMargin)
    },

    "ann_catalog_pq_topk" -> { (s, dir) =>
      // the durable IVFPQ index: CREATE INDEX ... USING IVFPQ stores
      // m one-byte codes per row (no raw vectors) list-partitioned
      // beside the delta log; DML appends codes against the SAVED
      // codebooks; a reopened session probes by ADC over the codes and
      // re-ranks the shortlist exactly against the LIVE primary. The
      // oracle replays codebook training, residual code assignment,
      // ADC scores, and the exact re-rank bit-for-bit over the mutated
      // content (nprobe = nlist, shortlist 16·k = 320).
      val path = graft.LaneDirs.path("graft_cat_lane_annpq")
      s.sql("DROP TABLE IF EXISTS graft_cat_annpq")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.embeddings(s, dir).createOrReplaceTempView("cat_annpq_src")
      s.sql(s"""CREATE TABLE graft_cat_annpq USING graft
        |OPTIONS (key 'vec_id') LOCATION '$path'
        |AS SELECT vec_id, embedding FROM cat_annpq_src""".stripMargin)
      s.sql("CREATE INDEX epq ON graft_cat_annpq USING IVFPQ (embedding)")
      s.sql("DELETE FROM graft_cat_annpq WHERE vec_id % 97 = 3")
      s.sql("""INSERT INTO graft_cat_annpq
        |SELECT vec_id + 100000, embedding FROM cat_annpq_src
        |WHERE vec_id < 8""".stripMargin)
      val lit = queryVec(s, dir).map(_.toString)
        .mkString("array(", ", ", ")")
      val s2 = s.newSession() // cold probe: the index must be durable
      s2.sql(s"""SELECT vec_id, cos FROM
        |graft_ann('graft_cat_annpq', 'epq', $lit, 20, 16)""".stripMargin)
    },

    "ann_pq_topk" -> { (s, dir) =>
      // product quantization: rows scored from m=8 one-byte codes via
      // an ADC lookup-table fold (32x less data scanned than raw
      // vectors at scale), then the shortlist re-ranked exactly
      Similarity.pqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryVec(s, dir), k = 20, dim = 64)
    },

    "ann_ivfpq_topk" -> { (s, dir) =>
      // IVF-PQ: coarse lists prune the search, PQ codes score the
      // probed candidates, exact re-rank finishes — the FAISS-style
      // production layout, every stage deterministic and
      // oracle-replicated
      Similarity.ivfPqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryVec(s, dir), k = 20, dim = 64)
    },

    "ann_ivf_full" -> { (s, dir) =>
      // nprobe = nlist: every inverted list is scanned, so the result
      // must EQUAL exact brute-force top-k — an oracle-checkable proof
      // that the IVF assignment/probe machinery loses nothing (the
      // nprobe<nlist variant above measures the approximate path)
      Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryVec(s, dir), k = 20, nlist = 16, nprobe = 16)
    },

    // ---------------------------------------------------- text analysis
    "text_tokens" -> { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.charCount(col("text")).cast("long").as("n_chars"))
    },

    "text_quality" -> { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        round(TextFunctions.meanTokenLen(col("text")), 4).as("mean_tok_len"),
        round(TextFunctions.stopwordRatio(col("text"),
          Seq("the", "a", "and", "of", "to")), 4).as("stop_ratio"))
    },

    "text_quality_score" -> { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
    },

    "text_langid" -> { (s, dir) =>
      // one-pass native expression (tokenize + profile counts + Han
      // share + decision); same formula as the composed form and the
      // DuckDB oracle
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lid"))
        .select(col("doc_id"), col("lid.lang").as("lang_pred"),
          col("lid.confidence").as("confidence"))
    },

    "text_subwords" -> { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.subwordCount(col("text")).cast("long").as("n_subwords"))
    },

    "pipeline_corpus_build" -> { (s, dir) =>
      // the END-TO-END curation pipeline in one declarative plan:
      // language gate + quality gate -> exact dedup (min id per
      // content) -> deterministic split assignment -> per-split stats.
      // Every stage is individually oracle-proven; this query verifies
      // their COMPOSITION
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("doc_id"), col("text"),
        TextFunctions.langId(col("text")).getField("lang").as("lang"),
        TextFunctions.qualityScore(col("text")).as("q"))
      // pinned: exactDedup's keeper semi-join references `kept` twice,
      // and project-collapsing would re-run the langid+quality gate —
      // the pipeline's most expensive stage — once per branch
      val kept = scored.filter(col("lang") === "en" && col("q") > 0.5)
        .select(col("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val deduped = Dedup.exactDedup(kept, "doc_id", "text").select("doc_id")
      graft.pipeline.Curation.assignSplits(deduped, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
    },

    // greedy token packing into fixed-capacity bins (sample packing for
    // training batches): per-shard scan in id order, new bin when the
    // doc overflows the remainder — the oracle replays the greedy fold
    // with a recursive CTE
    "curation_pack" -> { (s, dir) =>
      graft.pipeline.Curation.packSequences(
        Tables.documents(s, dir), "doc_id", "text",
        capTokens = 512, shards = 16)
    },

    "curation_splits" -> { (s, dir) =>
      // deterministic 80/10/10 split assignment by arithmetic id hash —
      // same row, same split, on any engine/run/partitioning
      graft.pipeline.Curation.assignSplits(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    },

    "curation_contamination" -> { (s, dir) =>
      // eval-leakage check: even-id docs are planted into the test set
      // VERBATIM (contaminated); odd-id docs get an extra token (clean)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val test = docs.where(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") % 2 === 1)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            concat(col("text"), lit(" extra-token")).as("text")))
      graft.pipeline.Curation.contamination(test, docs, "doc_id", "text")
    },

    "curation_token_budget" -> { (s, dir) =>
      // reproducible "~N tokens of this corpus" slice: affine-hash
      // priority order, kept while the running token total fits the
      // budget — two-phase bucket prefix sums, never a global sort
      graft.pipeline.Curation.tokenBudgetSample(
        Tables.documents(s, dir), "doc_id", "text", budget = 20000L)
    },

    "curation_order" -> { (s, dir) =>
      // epoch-1 training order: a seeded hash permutation ranked by the
      // bucketed two-phase prefix — never a global sort
      graft.pipeline.Curation.trainingOrder(
        Tables.documents(s, dir), "doc_id", seed = 1L)
    },

    "curation_quality_filter" -> { (s, dir) =>
      // Gopher-rule keep/drop with per-rule verdicts: min length and
      // stopword presence bite on this corpus; word-length and
      // repetition rules ride along at their published thresholds
      graft.pipeline.Curation.qualityFilter(
        Tables.documents(s, dir), "doc_id", "text",
        minTokens = 25L, minStopRatio = 0.02, maxTop2Frac = 0.11)
    },

    "curation_mixture" -> { (s, dir) =>
      // data-mixture realization: per-source token budgets (a small
      // source kept whole, larger ones cut at their target), the same
      // hash-priority keep rule as curation_token_budget applied per
      // source — sources x buckets driver state, never a global sort
      graft.pipeline.Curation.mixtureSample(
        Tables.documents(s, dir), "doc_id", "text", "source",
        Map("src3" -> 700L, "src8" -> 300L, "src12" -> 1000000L))
    },

    "curation_decontaminate_ngram" -> { (s, dir) =>
      // GPT-3-style 13-gram decontamination: eval set = every 100th
      // doc TRUNCATED to its first 30 tokens — no longer a verbatim
      // copy (fingerprint contamination misses it), but it still
      // shares 13-grams with its source, which must be flagged
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val test = docs.where(col("doc_id") % 100 === 0)
        .select(array_join(
          slice(TextFunctions.tokens(col("text")), 1, 30), " ").as("text"))
      graft.pipeline.Curation.contaminationNgram(
        test, docs, "doc_id", "text", n = 13)
    },

    "text_chunks" -> { (s, dir) =>
      // overlapping 32-token windows (8-token overlap): one row per
      // chunk with its index and token count — the pre-tokenization
      // fan-out step of a training pipeline
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(TextFunctions.tokenChunks(col("text"), 32, 8))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"),
          TextFunctions.tokenCount(col("chunk")).cast("long").as("n_tokens"))
    },

    // ------------------------------------------------------------ sketches
    "sketch_heavy_hitters" -> { (s, dir) =>
      // count-min sketch over the corpus token stream: one map-side-
      // combinable aggregation produces a d×w counter matrix (constant
      // size at any corpus scale); estimates for the top-30 true-
      // frequency tokens demonstrate the one-sided (over-)estimate
      // guarantee, and the deterministic hash family lets the oracle
      // rebuild the identical matrix in SQL
      import graft.pipeline.Sketches
      val tok = Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .withColumn("h", element_at(
          graft.functions.TokenShingleHashes.tokenShingleHashes(array(col("token")), 1), 1))
      val counters = Sketches.countMinCounters(tok, "h", depth = 4, width = 2048)
      val top = tok.groupBy("token", "h").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(30)
      Sketches.countMinEstimate(top, "h", counters, depth = 4, width = 2048)
        .select(col("token"), col("freq"), col("cm_est"))
    },

    "sketch_distinct_kmv" -> { (s, dir) =>
      // per-group distinct-count estimation from the k minimum hash
      // values: bounded per-group state (k longs) vs count(distinct)'s
      // full key set; exact below k by construction
      graft.pipeline.Sketches.kmvDistinct(
        Tables.events(s, dir), Seq("event_type"), "user_id", k = 64)
    },

    "sketch_distinct_hll" -> { (s, dir) =>
      // HyperLogLog register summary: constant 2^8-register per-group
      // state, registers merge by pointwise max (shards/days union for
      // free — KMV sketches don't); the raw estimator and register
      // stats are pure shift/mask/compare + exact powers of two, so the
      // oracle matches bit-for-bit
      graft.pipeline.Sketches.hllDistinct(
        Tables.events(s, dir), Seq("event_type"), "user_id", p = 8)
    },

    "sketch_bloom_prune" -> { (s, dir) =>
      // bloom-join pruning: an 1.5 KB bitset of Q1-1995 buyer keys
      // filters the customer probe side BEFORE any join — no false
      // negatives, deterministic false positives (is_member = false
      // rows) that the oracle reproduces bit-for-bit
      val build = Tables.orders(s, dir)
        .filter(col("o_orderdate").between("1995-01-01", "1995-03-31"))
        .select(col("o_custkey"))
      val pruned = graft.pipeline.Sketches.bloomPrune(
        Tables.customer(s, dir), "c_custkey", build, "o_custkey",
        mBits = 4096, depth = 3)
      pruned
        .join(build.distinct().withColumnRenamed("o_custkey", "c_custkey")
          .withColumn("__m", lit(true)), Seq("c_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("__m"), lit(false)).as("is_member"))
    },

    "sketch_quantiles" -> { (s, dir) =>
      // constant-state approximate quantiles (fixed-width histogram +
      // in-bin interpolation) — the scale twin of exact q_percentile:
      // per-group state is 64 counters instead of the full value set
      graft.pipeline.Sketches.histogramQuantiles(
        Tables.events(s, dir), Seq("event_type"), "value")
    },

    "curation_sample_stratified" -> { (s, dir) =>
      // balanced eval sampling: 20 docs PER SOURCE by hash rank — a
      // skewed corpus still yields equal strata representation,
      // reproducibly
      graft.pipeline.Curation.stratifiedSample(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "doc_id", Seq("source"), nPerGroup = 20)
    },

    "curation_sample" -> { (s, dir) =>
      // reproducible eval-slice sampling: smallest-k by arithmetic id
      // hash — same 100 docs on any run/partitioning/engine, selected
      // by a per-partition top-n (TakeOrderedAndProject), not a sort
      graft.pipeline.Curation.deterministicSample(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "doc_id", 100)
    },

    "text_rarity" -> { (s, dir) =>
      // corpus-relative informativeness: mean inverse token frequency
      // per doc, folded in position order so the double is
      // bit-reproducible cross-engine
      graft.pipeline.Curation.rarityScores(
        Tables.documents(s, dir), "doc_id", "text")
    },

    "text_repetition" -> { (s, dir) =>
      // Gopher-style WITHIN-document repetition: top-2-gram occupancy
      // and duplicated-3-gram fraction — the quality filters that catch
      // looping/boilerplate text near-dup passes can't see
      graft.pipeline.Curation.repetitionSignals(
        Tables.documents(s, dir), "doc_id", "text")
    },

    "text_vocab" -> { (s, dir) =>
      // corpus vocabulary: top 100 tokens by frequency (count desc, then
      // token — fully deterministic). Explode + partial-agg: the
      // classic map-side-combinable wordcount; the top-k is
      // TakeOrderedAndProject, never a global sort
      Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(100)
    },

    "text_fingerprint" -> { (s, dir) =>
      // fingerprint is whitespace-normalization invariant: doubling
      // every space must not change it (planted check inside the query)
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        (TextFunctions.fingerprint(regexp_replace(col("text"), " ", "  "))
          === TextFunctions.fingerprint(col("text"))).as("ws_invariant"))
    },

    // ----------------------------------------------------- skew handling
    "q_skew_salted_agg" -> { (s, dir) =>
      // events has only 5 event_type keys -> worst-case reducer skew for
      // a plain groupBy at scale; salted two-phase spreads each key over
      // 16 reducers and recombines
      graft.pipeline.Skew.saltedSumCount(
        Tables.events(s, dir).select(col("event_type"), col("value")),
        Seq("event_type"), "value", saltBuckets = 16)
        .select(col("event_type"), round(col("sum_value"), 2).as("sum_value"), col("cnt"))
    },

    // -------------------------------------------------------- multimodal
    "mm_features" -> { (s, dir) =>
      import s.implicits._
      val media = Multimodal.syntheticMediaTable(Tables.documents(s, dir))
        .as[Multimodal.MediaItem]
      // unrounded: the oracle replicates the fold exactly, and rounding
      // identically-computed doubles is the only cross-engine hazard
      // (engines disagree on doubles adjacent to a decimal half
      // boundary — observed at sf0.1)
      Multimodal.extractFeatures(media, dim = 8).toDF()
        .select(col("media_id"), col("kind"),
          aggregate(col("features"), lit(0.0d),
            (acc, x) => acc + x.cast("double")).as("feat_sum"))
    },

    "mm_features_real" -> { (s, dir) =>
      import s.implicits._
      // REAL image bytes: every payload is a genuine grayscale PNG
      // (encoded AND decoded through javax.imageio) carrying the
      // closed-form MINSTD pixels — the oracle regenerates each pixel
      // and must match the real decode bit for bit
      val media = Multimodal.realMediaTable(Tables.documents(s, dir))
        .as[Multimodal.MediaItem]
      Multimodal.extractFeatures(media, dim = 8).toDF()
        .select(col("media_id"), col("kind"),
          aggregate(col("features"), lit(0.0d),
            (acc, x) => acc + x.cast("double")).as("feat_sum"))
    },

    "text_sqlfn" -> { (s, dir) =>
      // the text kernels as SQL SCALAR FUNCTIONS (injectFunction):
      // identical plans to the Column API — the oracle is the same
      // arithmetic the Scala-API lanes already replicate, composed
      Tables.documents(s, dir).createOrReplaceTempView("sqlfn_docs")
      s.sql(
        """SELECT doc_id,
          |  CAST(graft_token_count(text) AS BIGINT) AS n_tokens,
          |  CAST(graft_subword_count(text) AS BIGINT) AS n_subwords,
          |  graft_langid(text).lang AS lang_pred,
          |  graft_langid(text).confidence AS confidence,
          |  graft_quality(text) AS quality,
          |  graft_fingerprint(text) AS fp,
          |  graft_simhash(text) AS sh,
          |  CAST(length(graft_redact(text)) AS BIGINT) AS redacted_len
          |FROM sqlfn_docs""".stripMargin)
    },

    "mm_video_real" -> { (s, dir) =>
      import s.implicits._
      // REAL video bytes: every payload is a genuine uncompressed
      // RIFF/AVI (BI_RGB 24-bit DIB frames, chunk-walking decoder)
      // carrying the closed-form MINSTD pixels per frame — the oracle
      // regenerates every pixel of every frame and must match the real
      // decode bit for bit
      val media = Multimodal.realVideoTable(Tables.documents(s, dir))
        .as[Multimodal.MediaItem]
      Multimodal.extractFeatures(media, dim = 8).toDF()
        .select(col("media_id"), col("kind"),
          aggregate(col("features"), lit(0.0d),
            (acc, x) => acc + x.cast("double")).as("feat_sum"))
    },

    "mm_audio_real" -> { (s, dir) =>
      import s.implicits._
      // REAL audio bytes: every payload is a genuine RIFF/WAVE 16-bit
      // PCM clip (chunk-walking decoder, not a fixed-offset reader)
      // carrying the closed-form MINSTD sample stream — the oracle
      // regenerates each signed sample and must match the real decode
      // bit for bit. feat_wsum weights band means by (band+1), so the
      // check is sensitive to band POOLING, not just the sample total
      val media = Multimodal.realAudioTable(Tables.documents(s, dir))
        .as[Multimodal.MediaItem]
      Multimodal.extractAudioFeatures(media, dim = 8).toDF()
        .select(col("media_id"), col("kind"),
          aggregate(col("features"), lit(0.0d),
            (acc, x) => acc + x.cast("double")).as("feat_sum"),
          aggregate(zip_with(col("features"),
              sequence(lit(1), lit(8)), (f, i) => f * i.cast("double")),
            lit(0.0d), (acc, x) => acc + x).as("feat_wsum"))
    },

    "mm_ann" -> { (s, dir) =>
      import s.implicits._
      // cross-modal composition: decode media -> feature vectors -> ANN
      val media = Multimodal.syntheticMediaTable(Tables.documents(s, dir))
        .as[Multimodal.MediaItem]
      // cache: the decode+pool pipeline feeds both the query-vector
      // lookup and the scoring scan
      val feats = Multimodal.extractFeatures(media, dim = 8).toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = feats.where(col("media_id") === 0)
        .select(col("features")).head().getSeq[Double](0).toArray
      Similarity.bruteTopK(feats, "media_id", "features", q, k = 10)
    },

    "mm_dedup" -> { (s, dir) =>
      import s.implicits._
      // media dedup by DECODED content: planted copies (same payload,
      // shifted id) collapse onto their originals via the pixel-stream
      // fingerprint; the oracle regenerates every pixel from the
      // synthetic codec's closed form and folds to the same value
      val base = Multimodal.syntheticMediaTable(Tables.documents(s, dir))
        .as[Multimodal.MediaItem]
      val planted = base.map(i => i.copy(media_id = i.media_id + 1000000L))
      Multimodal.dedupByContent(base.union(planted))
    },

    "mm_resize_frames" -> { (s, dir) =>
      import s.implicits._
      val media = Multimodal.syntheticMediaTable(Tables.documents(s, dir))
        .as[Multimodal.MediaItem]
      val resized = Multimodal.resize(media, 2)
      Multimodal.sampleFrames(resized.filter(col("kind") === "video")
        .as[Multimodal.MediaItem], stride = 2).toDF()
        .select(col("media_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("frame_bytes"))
    }
  )

  val oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |         array_to_string(list_slice(toks, 1,
        |           greatest((len(toks) * 9) // 10, 1)), ' ')
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |        FROM documents) t
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents
        |)
        |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM corpus GROUP BY text""".stripMargin,

    "dedup_exact_keep" ->
      // min id per text group (the fixture has a few intra-table
      // duplicate texts at larger scale factors)
      "SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM documents GROUP BY text",

    "embed_pairs" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])), 2) AS cos
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) > 0.4""".stripMargin,

    "ann_brute" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 2) AS cos
        |FROM embeddings e, q
        |WHERE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) > 0.2""".stripMargin,

    "q_skew_salted_agg" ->
      """SELECT event_type, round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        |  round(CAST(length(replace(trim(text), ' ', '')) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')), 4) AS mean_tok_len,
        |  round(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      w -> w IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')), 4) AS stop_ratio
        |FROM documents""".stripMargin
  ) ++ PipelineOracles.sql
}
