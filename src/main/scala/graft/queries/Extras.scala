package graft.queries

import graft.functions.TopKAgg
import graft.operators.{Similarity, Skew}
import org.apache.spark.sql.functions._

/** Round-1 additions: explicit skew mitigation, the typed-Aggregator
  * UDAF surface, and IVF similarity search — each oracle-checked.
  */
object Extras {
  val defs: Seq[QueryDef] = Seq(

    // ---- salted skew join: row-identical to the plain equi-join (the
    // oracle IS the unsalted join — proving the transform is semantics-
    // preserving), while each hot o_custkey spreads over 8 salt buckets
    QueryDef("q40_salted_join",
      (s, dir) => {
        val orders = t("orders")(s, dir)
          .select(col("o_custkey"), col("o_totalprice"))
        val cust = t("customer")(s, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_name"))
        Skew.saltedEquiJoin(orders, cust, Seq("o_custkey"), factor = 8)
          .groupBy(col("o_custkey"), col("c_name"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total"))
          .orderBy(col("o_custkey"))
      },
      Some(s"""SELECT o_custkey, c_name, COUNT(*) AS n_orders,
              |  ${oSum("o_totalprice")} AS total
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |GROUP BY o_custkey, c_name
              |ORDER BY o_custkey""".stripMargin)),

    // ---- typed Aggregator (UDAF): exact bounded top-k sketch with
    // partial+final merge, vs DuckDB's ordered list slice. The array is
    // serialized to a csv string on BOTH sides (fixed decimal(12,2)
    // rendering) so the driver's scalar hash-compare applies.
    QueryDef("q41_topk_agg",
      (s, dir) => t("orders")(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(array_join(transform(
            TopKAgg.smallest(5)(col("o_totalprice")),
            x => x.cast("decimal(12,2)").cast("string")), ",")
          .as("cheapest5"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
             |  array_to_string(list_transform(
             |    (list(o_totalprice ORDER BY o_totalprice))[1:5],
             |    x -> CAST(CAST(x AS DECIMAL(12,2)) AS VARCHAR)), ',')
             |    AS cheapest5
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ---- IVF ANN: 8 lowest-id seeds as centroids, 2-cell probes,
    // exact rounded-cosine scoring inside probed cells only
    QueryDef("q42_ivf_topk",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
            nCentroids = 8, nprobe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH cen AS (SELECT vec_id AS cen_id,
             |    CAST(embedding AS DOUBLE[]) AS cene
             |  FROM embeddings ORDER BY vec_id LIMIT 8),
             |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce
             |  FROM embeddings),
             |a0 AS (SELECT nid, ce, cen_id,
             |    round(list_dot_product(ce, cene) /
             |      (sqrt(list_dot_product(ce, ce)) *
             |       sqrt(list_dot_product(cene, cene))), 6) AS csim
             |  FROM c, cen),
             |a1 AS (SELECT *, row_number() OVER (PARTITION BY nid
             |    ORDER BY csim DESC, cen_id) AS r FROM a0),
             |assigned AS (SELECT nid, ce, cen_id AS cell
             |  FROM a1 WHERE r = 1),
             |q AS (SELECT vec_id AS query_id,
             |    CAST(embedding AS DOUBLE[]) AS qe
             |  FROM embeddings WHERE vec_id < 10),
             |p0 AS (SELECT query_id, qe, cen_id,
             |    round(list_dot_product(qe, cene) /
             |      (sqrt(list_dot_product(qe, qe)) *
             |       sqrt(list_dot_product(cene, cene))), 6) AS psim
             |  FROM q, cen),
             |p1 AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY psim DESC, cen_id) AS r FROM p0),
             |probes AS (SELECT query_id, qe, cen_id AS cell
             |  FROM p1 WHERE r <= 2),
             |s AS (SELECT query_id, nid AS neighbor_id,
             |    round(list_dot_product(qe, ce) /
             |      (sqrt(list_dot_product(qe, qe)) *
             |       sqrt(list_dot_product(ce, ce))), 6) AS sim
             |  FROM probes JOIN assigned ON probes.cell = assigned.cell
             |  WHERE query_id != nid),
             |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY sim DESC, neighbor_id) AS rank FROM s)
             |SELECT query_id, neighbor_id, sim,
             |  CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- as-of join: each click event gets the latest preceding (or
    // simultaneous) error event's value for the same user — the
    // point-in-time feature-join pattern; right side deduped to one row
    // per (user, ts) for determinism. DuckDB's native ASOF JOIN is the
    // oracle.
    QueryDef("q43_asof_join",
      (s, dir) => {
        val (clicks, errors) = clicksAndErrors(s, dir)
        graft.operators.AsOf.join(clicks, errors, Seq("user_id"),
            "ts", "err_ts", Seq("err_ts", "err_value"))
          .orderBy(col("event_id"))
      },
      Some(oAsOfClickErrors)),

    // ---- exact percentiles (sort-based aggregate; the approximate
    // twins — approx_percentile / HLL sketches — are covered in
    // SketchSpec since their estimates are engine-specific)
    QueryDef("q44_percentiles",
      (s, dir) => t("lineitem")(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(array_join(transform(
            expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))"),
            x => x.cast("decimal(12,2)").cast("string")), ",")
          .as("quartiles"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  array_to_string(list_transform(
             |    quantile_cont(l_quantity, [0.25, 0.5, 0.75]),
             |    x -> CAST(CAST(x AS DECIMAL(12,2)) AS VARCHAR)), ',')
             |    AS quartiles
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- duplicate clusters: Jaccard pairs -> connected components ->
    // one representative per transitive duplicate cluster. Oracle walks
    // the same graph with a recursive CTE (min reachable id).
    QueryDef("q45_dedup_clusters",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val pairs = CorpusOps.sharedJaccardPairs(s, dir)
        graft.operators.Dedup.connectedComponents(
            pairs, docs.select(col("doc_id")), "doc_id")
          .select(col("id").as("doc_id"), col("cluster"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $oJaccardEdges,
              |$oWalk
              |SELECT id AS doc_id, min(lbl) AS cluster
              |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin)),

    // ---- cluster-aware reproducible train/val/test split: hash the
    // duplicate-CLUSTER id (not the doc id) into [0,100) and cut at
    // 80/10/10, so near-duplicate docs always land in the same split —
    // no train/test contamination. Pure function of the data: stable
    // across runs, engines, and cluster sizes.
    QueryDef("q46_split_assign",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val pairs = CorpusOps.sharedJaccardPairs(s, dir)
        val clusters = graft.operators.Dedup.connectedComponents(
          pairs, docs.select(col("doc_id")), "doc_id")
        clusters
          .withColumn("split", graft.operators.TextOps.hashSplit(
            col("cluster"), Seq("train" -> 80, "val" -> 10, "test" -> 10)))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster")).as("n_clusters"))
          .orderBy(col("split"))
      },
      Some(s"""WITH RECURSIVE $oJaccardEdges,
              |$oWalk,
              |cl AS (SELECT id AS doc_id, min(lbl) AS cluster
              |  FROM walk GROUP BY id),
              |sp AS (SELECT doc_id, cluster,
              |  CASE
              |    WHEN CAST(concat('0x', substr(md5(CAST(cluster AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
              |    WHEN CAST(concat('0x', substr(md5(CAST(cluster AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
              |    ELSE 'test' END AS split
              |  FROM cl)
              |SELECT split, COUNT(*) AS n_docs,
              |  COUNT(DISTINCT cluster) AS n_clusters
              |FROM sp GROUP BY split ORDER BY split""".stripMargin)),

    // ---- PIVOT: event counts per user by type -> one column per type
    // (oracle = filtered aggregation, the portable spelling)
    QueryDef("q47_pivot",
      (s, dir) => t("events")(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id")),
      Some("""SELECT user_id,
             |  COUNT(*) FILTER (event_type = 'click') AS click,
             |  COUNT(*) FILTER (event_type = 'view') AS view,
             |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
             |  COUNT(*) FILTER (event_type = 'error') AS error
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- correlated subqueries through the spark.sql entry path (the
    // reference's SqlRowSource surface executed natively by Catalyst:
    // EXISTS + a correlated scalar subquery in one statement)
    QueryDef("q48_correlated_subquery",
      (s, dir) => {
        Seq("customer", "orders").foreach(n =>
          t(n)(s, dir).createOrReplaceTempView(n))
        s.sql("""
          SELECT c_custkey, c_name,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 100000) AS n_big
          FROM customer c
          WHERE EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey)
          ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_name,
             |  (SELECT COUNT(*) FROM orders o
             |   WHERE o.o_custkey = c.c_custkey
             |     AND o.o_totalprice > 100000) AS n_big
             |FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // ---- UNPIVOT (melt): wide per-part metrics -> long (metric, value)
    QueryDef("q49_unpivot",
      (s, dir) => t("part")(s, dir)
        .select(col("p_partkey"),
          col("p_retailprice").as("retailprice"),
          col("p_size").cast("double").as("psize"))
        .unpivot(Array(col("p_partkey")),
          Array(col("retailprice"), col("psize")), "metric", "value")
        .orderBy(col("p_partkey"), col("metric")),
      Some("""SELECT p_partkey, metric, value FROM (
             |  SELECT p_partkey, 'retailprice' AS metric,
             |    p_retailprice AS value FROM part
             |  UNION ALL
             |  SELECT p_partkey, 'psize', CAST(p_size AS DOUBLE) FROM part)
             |ORDER BY p_partkey, metric""".stripMargin)),

    // ---- the DQ side-table subsystem (the reference's signature
    // feature) on real data: one declarative pass emits the issue rows —
    // PK + 5 fixed DQ columns — for every violated rule; messages embed
    // row values. Oracle = UNION ALL of the per-rule selects.
    QueryDef("q50_dq_issues",
      (s, dir) => {
        import graft.core.{ColumnDef, TableSpec}
        import graft.dq.{Category, DqRule, DqSplit, Priority}
        import org.apache.spark.sql.types._
        val spec = TableSpec("customer", Seq(
          ColumnDef("c_custkey", LongType, nullable = false,
            primaryKey = true),
          ColumnDef("c_name", StringType),
          ColumnDef("c_nationkey", IntegerType),
          ColumnDef("c_acctbal", DoubleType),
          ColumnDef("c_mktsegment", StringType)))
        val rules = Seq(
          DqRule("c_acctbal", col("c_acctbal") < 0,
            graft.dq.Source.Source, Priority.Medium, Category.Incorrect,
            concat(lit("negative balance: "),
              col("c_acctbal").cast("decimal(12,2)").cast("string"))),
          DqRule("c_acctbal", col("c_acctbal") > lit(9900.0),
            graft.dq.Source.Source, Priority.Low, Category.Incorrect,
            concat(lit("outlier balance: "),
              col("c_acctbal").cast("decimal(12,2)").cast("string"))),
          DqRule("c_mktsegment", col("c_mktsegment").isNull,
            graft.dq.Source.Source, Priority.Mandatory, Category.Missing,
            lit("missing segment")))
        val (_, dq) = DqSplit(t("customer")(s, dir), spec, rules)
        dq.orderBy(col("c_custkey"), col("column_name"), col("message"))
      },
      Some("""SELECT * FROM (
             |  SELECT c_custkey, 'source' AS source,
             |    'medium' AS priority, 'incorrect' AS category,
             |    'c_acctbal' AS column_name,
             |    concat('negative balance: ',
             |      CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR))
             |      AS message
             |  FROM customer WHERE c_acctbal < 0
             |  UNION ALL
             |  SELECT c_custkey, 'source', 'low', 'incorrect',
             |    'c_acctbal',
             |    concat('outlier balance: ',
             |      CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR))
             |  FROM customer WHERE c_acctbal > 9900.0
             |  UNION ALL
             |  SELECT c_custkey, 'source', 'mandatory', 'missing',
             |    'c_mktsegment', 'missing segment'
             |  FROM customer WHERE c_mktsegment IS NULL)
             |ORDER BY c_custkey, column_name, message""".stripMargin)),

    // ---- generator/UDTF surface: explode tokens into rows, global
    // top-50 word frequencies (ties broken by word)
    QueryDef("q51_word_freq",
      (s, dir) => graft.operators.TextOps
        .wordRows(t("documents")(s, dir), "text")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(50),
      Some("""WITH w AS (SELECT unnest(list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0)) AS word FROM documents)
             |SELECT word, COUNT(*) AS n FROM w GROUP BY word
             |ORDER BY n DESC, word LIMIT 50""".stripMargin))
  )
}
