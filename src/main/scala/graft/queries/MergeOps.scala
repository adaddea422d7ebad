package graft.queries

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lakehouse merge operators: MERGE-INTO upsert (SCD type 1) and
  * slowly-changing-dimension type 2 history maintenance — the write-side
  * primitives a corpus/lakehouse deployment runs on every ingest batch
  * (the reference's truncate+append sink is the degenerate case; these are
  * the incremental forms that avoid rewriting 100 TB to change 1 GB).
  *
  * The change batch is derived deterministically from the corpus itself so
  * the DuckDB oracle can replay it: updates touch doc_id % 10 == 3
  * (re-sourced, content grown), inserts arrive under fresh ids
  * (doc_id % 10 == 7, shifted by 1e6 — disjoint from every real id).
  *
  * Scale design: both operators are single hash-joins keyed on the natural
  * key — the merge shuffles (key, 3 columns), never document text. A
  * target persisted bucketed by key would join with no exchange on its
  * side (Spark's `bucketBy`); the engine writes no bucketed table, since
  * such a write overwrites in place and a failed one loses the table.
  */
object MergeOps {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Target view of the corpus (text dropped: merges move metadata; the
    * text column would ride along untouched in a real table rewrite). */
  private def target(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  private def updates(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(col("doc_id") % 10 === 3)
      .select(col("doc_id"), col("lang"), lit("patched").as("source"),
        (col("n_chars") + 1000).as("n_chars"))

  private def inserts(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        lit("fresh").as("source"), col("n_chars"))

  private val targetSql =
    "t AS (SELECT doc_id, lang, source, n_chars FROM documents)"
  private val batchSql =
    """u AS (SELECT doc_id, lang, 'patched' AS source, n_chars + 1000 AS n_chars
            FROM documents WHERE doc_id % 10 = 3),
       i AS (SELECT doc_id + 1000000 AS doc_id, lang, 'fresh' AS source, n_chars
            FROM documents WHERE doc_id % 10 = 7)"""

  /** MERGE INTO (SCD type 1): update matched keys in place, insert new
    * keys, keep the rest — one FULL OUTER hash join on the key, batch side
    * wins on conflict. Emits the merged table plus the per-row `op` audit
    * column a production merge logs. */
  val mergeUpsert = QuerySpec(
    "q_merge_upsert",
    s"""WITH $targetSql,
        $batchSql,
        b AS (SELECT * FROM u UNION ALL SELECT * FROM i)
        SELECT COALESCE(b.doc_id, t.doc_id) AS doc_id,
               COALESCE(b.lang, t.lang) AS lang,
               COALESCE(b.source, t.source) AS source,
               COALESCE(b.n_chars, t.n_chars) AS n_chars,
               CASE WHEN b.doc_id IS NOT NULL AND t.doc_id IS NOT NULL THEN 'update'
                    WHEN b.doc_id IS NOT NULL THEN 'insert'
                    ELSE 'keep' END AS op
        FROM t FULL OUTER JOIN b ON b.doc_id = t.doc_id""") {
    (s, d) =>
      val t = target(s, d).toDF("t_id", "t_lang", "t_source", "t_n")
      val b = updates(s, d).unionByName(inserts(s, d))
        .toDF("b_id", "b_lang", "b_source", "b_n")
      t.join(b, col("b_id") === col("t_id"), "full_outer")
        .select(
          coalesce(col("b_id"), col("t_id")).as("doc_id"),
          coalesce(col("b_lang"), col("t_lang")).as("lang"),
          coalesce(col("b_source"), col("t_source")).as("source"),
          coalesce(col("b_n"), col("t_n")).as("n_chars"),
          when(col("b_id").isNotNull && col("t_id").isNotNull, "update")
            .when(col("b_id").isNotNull, "insert")
            .otherwise("keep").as("op"))
  }

  /** SCD type 2: instead of overwriting, updated keys CLOSE their current
    * version (valid_to = the new generation, is_current = false) and open
    * a new one; inserts open version 1; untouched rows stay current with
    * an open interval. The apply is two key-equi semi/anti joins plus
    * unions — no window, no full rewrite; generation numbers stand in for
    * load timestamps so the oracle replays bit-identically. */
  val mergeScd2 = QuerySpec(
    "q_merge_scd2",
    s"""WITH $targetSql,
        $batchSql
        SELECT t.doc_id, t.source, t.n_chars,
               CAST(1 AS BIGINT) AS version, CAST(1 AS BIGINT) AS valid_from,
               CAST(2 AS BIGINT) AS valid_to, FALSE AS is_current
        FROM t WHERE EXISTS (SELECT 1 FROM u WHERE u.doc_id = t.doc_id)
        UNION ALL
        SELECT t.doc_id, t.source, t.n_chars,
               CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(NULL AS BIGINT), TRUE
        FROM t WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.doc_id = t.doc_id)
        UNION ALL
        SELECT doc_id, source, n_chars,
               CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(NULL AS BIGINT), TRUE
        FROM u
        UNION ALL
        SELECT doc_id, source, n_chars,
               CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(NULL AS BIGINT), TRUE
        FROM i""") {
    (s, d) =>
      val t = target(s, d)
      val u = updates(s, d)
      val ukeys = u.select("doc_id")
      def versioned(df: DataFrame, version: Int, from: Int,
                    to: Option[Int], current: Boolean): DataFrame =
        df.select(col("doc_id"), col("source"), col("n_chars"),
          lit(version).cast("long").as("version"),
          lit(from).cast("long").as("valid_from"),
          to.map(lit(_)).getOrElse(lit(null)).cast("long").as("valid_to"),
          lit(current).as("is_current"))
      versioned(t.join(ukeys, Seq("doc_id"), "left_semi"), 1, 1, Some(2), current = false)
        .unionByName(versioned(t.join(ukeys, Seq("doc_id"), "left_anti"), 1, 1, None, current = true))
        .unionByName(versioned(u, 2, 2, None, current = true))
        .unionByName(versioned(inserts(s, d), 1, 2, None, current = true))
  }

  /** Order-independent table checksum — the anti-entropy primitive that
    * verifies a migration/replica/merge byte-for-byte WITHOUT sorting:
    * each row folds to a 56-bit hash of its canonical string and the
    * table signature is the XOR-fold (commutative + associative, so
    * partition order, shuffle order and partial aggregation can't change
    * it — no Exact-style quantization needed, unlike SUMs). One scan per
    * table, constant-size output; comparing source and target signatures
    * after q_merge_upsert/SCD2 is how a 100 TB copy is validated in one
    * pass. */
  val tableChecksum = QuerySpec(
    "q_table_checksum",
    """WITH d AS (SELECT CAST(('0x' || substr(md5(
             CAST(doc_id AS VARCHAR) || '|' || lang || '|' || source || '|' ||
             CAST(n_chars AS VARCHAR) || '|' || md5(text)), 1, 14)) AS BIGINT) AS h
           FROM documents),
         o AS (SELECT CAST(('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
             CAST(o_custkey AS VARCHAR)), 1, 14)) AS BIGINT) AS h
           FROM orders)
       SELECT 'documents' AS table_name, COUNT(1) AS n_rows,
              CAST(bit_xor(h) AS BIGINT) AS checksum FROM d
       UNION ALL
       SELECT 'orders', COUNT(1), CAST(bit_xor(h) AS BIGINT) FROM o""") {
    (s, d) =>
      def sig(df: DataFrame, name: String, canon: org.apache.spark.sql.Column): DataFrame =
        df.select(conv(substring(md5(canon), 1, 14), 16, 10).cast("long").as("h"))
          .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").cast("long").as("checksum"))
          .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
      sig(docs(s, d), "documents",
        concat_ws("|", col("doc_id"), col("lang"), col("source"),
          col("n_chars"), md5(col("text"))))
        .unionByName(sig(Tables.orders(s, d), "orders",
          concat_ws("|", col("o_orderkey"), col("o_orderstatus"), col("o_custkey"))))
  }

  /** Incremental aggregate maintenance (the IVM primitive): an existing
    * per-key aggregate table absorbs a new batch by MERGING partial
    * states — count adds, and even the double SUM adds exactly because
    * [[graft.Exact]] quantizes every addend to the 1/256 grid first, which
    * makes the sum associative: (Σ base) + (Σ batch) is bit-equal to
    * Σ (base ∪ batch). At 100 TB this is the difference between scanning
    * the delta and rescanning the world on every refresh. The oracle IS
    * the from-scratch recompute, so the equivalence is what the hash
    * compare proves. Base/batch stand in for "yesterday's table" and
    * "today's ingest" (orderkey mod 4). */
  val aggIncremental = QuerySpec(
    "q_agg_incremental",
    s"""SELECT o_orderstatus, COUNT(1) AS n_orders,
               ${graft.Exact.sumSql("o_totalprice")} AS total_price
        FROM orders GROUP BY 1""") {
    (s, d) =>
      def partial(df: DataFrame): DataFrame =
        df.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("pn"), graft.Exact.sumD(col("o_totalprice")).as("pt"))
      val base = Tables.orders(s, d).filter(col("o_orderkey") % 4 =!= 1)
      val batch = Tables.orders(s, d).filter(col("o_orderkey") % 4 === 1)
      partial(base).unionByName(partial(batch))
        .groupBy("o_orderstatus")
        .agg(sum(col("pn")).cast("long").as("n_orders"),
          sum(col("pt")).as("total_price"))
  }

  /** Change-data-capture feed between two table snapshots — the read-side
    * twin of [[mergeUpsert]]: given yesterday's and today's state of the
    * corpus table, emit the Delta-CDF-shaped change rows (`insert`,
    * `delete`, `update_preimage`/`update_postimage`) a downstream
    * incremental consumer replays. The new snapshot applies a
    * deterministic batch the oracle can rebuild: doc_id % 10 == 3 patched,
    * % 10 == 5 deleted, % 10 == 7 re-inserted under fresh ids.
    *
    * Scale shape: ONE full-outer hash join on the key, then a single-pass
    * explode that emits 0–2 change rows per joined row — the oracle's
    * four-branch UNION ALL form would scan both snapshots four times.
    * Row equality is null-safe (`<=>` / IS NOT DISTINCT FROM), so the
    * diff never misreads a NULL as a change. */
  val cdcDiff = QuerySpec(
    "q_cdc_diff",
    s"""WITH $targetSql,
        n AS (SELECT doc_id, lang,
                     CASE WHEN doc_id % 10 = 3 THEN 'patched' ELSE source END AS source,
                     CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000 ELSE n_chars END AS n_chars
              FROM documents WHERE doc_id % 10 <> 5
              UNION ALL
              SELECT doc_id + 1000000, lang, 'fresh', n_chars
              FROM documents WHERE doc_id % 10 = 7),
        same AS (SELECT t.doc_id FROM t JOIN n ON n.doc_id = t.doc_id
                 WHERE t.lang IS NOT DISTINCT FROM n.lang
                   AND t.source IS NOT DISTINCT FROM n.source
                   AND t.n_chars IS NOT DISTINCT FROM n.n_chars)
        SELECT t.doc_id, t.lang, t.source, t.n_chars, 'delete' AS change_type
        FROM t WHERE NOT EXISTS (SELECT 1 FROM n WHERE n.doc_id = t.doc_id)
        UNION ALL
        SELECT n.doc_id, n.lang, n.source, n.n_chars, 'insert'
        FROM n WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.doc_id = n.doc_id)
        UNION ALL
        SELECT t.doc_id, t.lang, t.source, t.n_chars, 'update_preimage'
        FROM t JOIN n ON n.doc_id = t.doc_id
        WHERE t.doc_id NOT IN (SELECT doc_id FROM same)
        UNION ALL
        SELECT n.doc_id, n.lang, n.source, n.n_chars, 'update_postimage'
        FROM n JOIN t ON t.doc_id = n.doc_id
        WHERE n.doc_id NOT IN (SELECT doc_id FROM same)""") {
    (s, d) =>
      val t = target(s, d).toDF("t_id", "t_lang", "t_source", "t_n")
      val base = target(s, d)
      val nw = base.filter(col("doc_id") % 10 =!= 5)
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 10 === 3, "patched").otherwise(col("source")).as("source"),
          when(col("doc_id") % 10 === 3, col("n_chars") + 1000).otherwise(col("n_chars")).as("n_chars"))
        .unionByName(base.filter(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            lit("fresh").as("source"), col("n_chars")))
        .toDF("n_id", "n_lang", "n_source", "n_n")
      val joined = t.join(nw, col("n_id") === col("t_id"), "full_outer")
      val sameRow = col("t_lang") <=> col("n_lang") &&
        col("t_source") <=> col("n_source") && col("t_n") <=> col("n_n")
      // one pass: each joined row explodes to its (old-side, new-side)
      // candidates, classified and filtered — no re-scan per change type
      joined
        .select(col("*"), explode(array(
          struct(lit("old").as("side"), col("t_id").as("doc_id"), col("t_lang").as("lang"),
            col("t_source").as("source"), col("t_n").as("n_chars")),
          struct(lit("new").as("side"), col("n_id").as("doc_id"), col("n_lang").as("lang"),
            col("n_source").as("source"), col("n_n").as("n_chars")))).as("r"))
        .withColumn("change_type",
          when(col("r.side") === "old",
            when(col("n_id").isNull, "delete")
              .when(col("t_id").isNotNull && !sameRow, "update_preimage"))
          .otherwise(
            when(col("t_id").isNull, "insert")
              .when(col("n_id").isNotNull && !sameRow, "update_postimage")))
        .filter(col("change_type").isNotNull)
        .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
          col("r.source").as("source"), col("r.n_chars").as("n_chars"),
          col("change_type"))
  }

  val specs: Seq[QuerySpec] =
    Seq(mergeUpsert, mergeScd2, tableChecksum, aggIncremental, cdcDiff)
}
