package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** §2.13 Subquery / decorrelation tier (r16 = driver round 13, the r12
  * verdict's top-next): the one classic relational surface the
  * operator board never exercised. Each key is written AS SQL with the
  * subquery in place — the point is not the decorrelated FORM
  * (join_semi / join_anti / agg_minmax_by already prove those) but
  * that Catalyst's subquery rewrites produce the efficient join plan
  * FROM the declarative form a SQL analyst actually writes:
  *
  *   - `sub_scalar`: uncorrelated scalar subqueries — computed ONCE as
  *     separate subquery stages and inlined into the main scan's
  *     filter (never per-row; the plan shows Subquery stages feeding a
  *     plain Filter, no join at all).
  *   - `sub_correlated`: TPC-H Q17's shape — a correlated scalar
  *     aggregate subquery (`l_quantity < 0.2·avg(qty) of the same
  *     part`); RewriteCorrelatedScalarSubquery must turn it into ONE
  *     aggregate over lineitem grouped by the correlation key, joined
  *     back to the outer scan. A per-outer-row subquery would be
  *     O(|lineitem|²) at 100 TB; the decorrelated plan is two
  *     lineitem scans + hash joins, all equi-partitioned.
  *   - `macro_waiting`: TPC-H Q21's shape — EXISTS + NOT EXISTS
  *     composed against the same fact table (suppliers who were the
  *     ONLY returned line in a finished multi-supplier order — the
  *     fixture has no receipt/commit dates, so `l_returnflag = 'R'`
  *     plays Q21's "late" role); RewritePredicateSubquery must plan
  *     them as one LeftSemi and one LeftAnti equi-join on
  *     l_orderkey. Both shuffle on the fact key — partitionable at
  *     any scale, no nested loop.
  *   - `sub_correlated_eq`: TPC-H Q2's shape — equality to a
  *     correlated MIN (each customer's cheapest order, ties kept);
  *     decorrelates to a min-per-custkey aggregate joined back with
  *     the equality as residual. MIN of doubles is
  *     permutation-invariant and the comparison exact, so ties and
  *     boundaries agree cross-engine bit-for-bit.
  *   - `sub_in` / `sub_not_in`: IN → LeftSemi; NOT IN → the
  *     NULL-AWARE anti join (three-valued NOT IN: one NULL in the
  *     inner set empties the result — semantics pinned on a
  *     NULL-bearing micro-fixture in OperatorSemanticsSpec, the
  *     fixture keys themselves are null-free). SCALE CONTRACT: Spark
  *     executes a null-aware anti join only as a BROADCAST hash join
  *     (inner side must fit in memory; a non-broadcastable inner
  *     falls back to BroadcastNestedLoopJoin). That is inherent to
  *     NOT IN's 3VL semantics, not a plan bug — at 100 TB write NOT
  *     EXISTS (plain shuffleable LeftAnti, see `join_anti` /
  *     `macro_waiting`) unless you specifically need NULL
  *     sensitivity; this key documents and pins the trade.
  *
  *   - `sub_recursive`: WITH RECURSIVE (Spark 4's UnionLoop) —
  *     bounded-hop reachability over a nation-level trade graph
  *     DERIVED from the fact tables (distinct (supplier-nation →
  *     customer-nation) pairs, kept to each source's top-3 partners
  *     by line count so the graph is sparse and multi-hop at every
  *     sf; the seed is the highest-volume source nation, so the
  *     anchor is non-empty at every sf). The recursion carries
  *     (nation, hops) with hops < 3; min-hop and bounded path counts
  *     read out per nation. Scale shape: the heavy work (4-way fact
  *     join + count) happens ONCE before the loop and collapses to a
  *     ≤25²-row aggregated graph; each UnionLoop iteration joins the
  *     frontier against that tiny edge table — the loop never touches
  *     the fact table. Path growth is bounded by out-degree ≤ 3 and
  *     depth 3. DuckDB replays the identical ANSI WITH RECURSIVE.
  *
  * Determinism (§7.5): every threshold comparison is exact —
  * `sub_scalar` cross-multiplies the exact DECIMAL(18,4) sum against
  * COUNT(*) instead of comparing to a double mean (whose last-ulp
  * summation-order drift could flip boundary rows between engines);
  * `sub_correlated`'s `0.2·avg(l_quantity)` is bit-identical in both
  * engines because l_quantity is integral (partial double sums stay
  * exact below 2^53) and ·0.2 / ÷count are single exactly-rounded
  * IEEE ops. PlanSpec pins all three decorrelated shapes.
  */
object SubqueryOps {
  type Q = (SparkSession, String) => DataFrame

  private def pq(d: String, t: String) = s"parquet.`$d/$t.parquet`"

  /** Shared SQL text, parameterized only by table reference syntax
    * (Spark reads `parquet.`…`` paths; the DuckDB oracle reads the
    * driver-registered table names) — the query the two engines run
    * is otherwise IDENTICAL, so the key verifies engine semantics,
    * not two hand-kept copies.
    */
  private def subScalarSql(t: String => String) =
    s"""SELECT o_orderkey, o_custkey, o_totalprice
       |FROM ${t("orders")}
       |WHERE CAST(o_totalprice AS DECIMAL(18,4))
       |        * (SELECT COUNT(*) FROM ${t("orders")})
       |      > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4)))
       |         FROM ${t("orders")})
       |ORDER BY o_orderkey""".stripMargin

  private def subCorrelatedSql(t: String => String) =
    s"""SELECT p_brand,
       |       COUNT(*) AS n_lines,
       |       CAST(round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
       |                       AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly
       |FROM ${t("lineitem")} JOIN ${t("part")} ON p_partkey = l_partkey
       |WHERE p_size <= 5
       |  AND l_quantity < (SELECT 0.2 * AVG(li.l_quantity)
       |                    FROM ${t("lineitem")} AS li
       |                    WHERE li.l_partkey = p_partkey)
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin

  /** sub_recursive is built from SHARED fragments: the oracle composes
    * them into one ANSI `WITH RECURSIVE` text (below), while the Spark
    * path materializes the pre-loop fragments ONCE and runs only the
    * recursion over the materialized views — the fragments are the
    * same strings, so the two engines' semantics cannot drift (r13
    * verdict #1: Spark INLINES non-recursive CTEs, so the single-text
    * form re-executed the 4-way fact join on every UnionLoop
    * iteration — 51 stages / 2.7 s where ~12 / <1 s is the honest
    * cost; at 100 TB each extra iteration is a full fact-table pass).
    */
  private def paircntFrag(t: String => String) =
    s"""SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS cnt
       |FROM ${t("lineitem")} AS l
       |JOIN ${t("orders")} AS o ON o.o_orderkey = l.l_orderkey
       |JOIN ${t("customer")} AS c ON c.c_custkey = o.o_custkey
       |JOIN ${t("supplier")} AS s ON s.s_suppkey = l.l_suppkey
       |WHERE s.s_nationkey <> c.c_nationkey
       |GROUP BY src, dst""".stripMargin

  private def tradeFrag(paircnt: String) =
    s"""SELECT src, dst FROM (
       |  SELECT src, dst,
       |         ROW_NUMBER() OVER (PARTITION BY src
       |                            ORDER BY cnt DESC, dst) AS rk
       |  FROM $paircnt) t0 WHERE rk <= 3""".stripMargin

  private def seedFrag(paircnt: String) =
    s"""SELECT src AS snk FROM $paircnt
       |GROUP BY src ORDER BY SUM(cnt) DESC, src LIMIT 1""".stripMargin

  // The /*+ BROADCAST */ hints bind in Spark only; DuckDB parses them
  // as plain C-style comments (verified) — the shared text stays one
  // string. Both joins are against ≤25-row frames: without the hint
  // each UnionLoop iteration shuffles the frontier (3 stages/iter);
  // with it every iteration is one broadcast-probe stage.
  private def reachCteAndSelect(trade: String, seed: String, nation: String) =
    s"""reach(nk, hops) AS (
       |  SELECT /*+ BROADCAST(s) */ t.dst, 1
       |  FROM $trade t JOIN $seed s ON t.src = s.snk
       |  UNION ALL
       |  SELECT /*+ BROADCAST(t) */ t.dst, r.hops + 1
       |  FROM reach r JOIN $trade t ON t.src = r.nk
       |  WHERE r.hops < 3
       |)
       |SELECT n_name, CAST(MIN(hops) AS BIGINT) AS min_hops,
       |       CAST(COUNT(*) AS BIGINT) AS n_paths
       |FROM reach JOIN $nation ON n_nationkey = nk
       |GROUP BY n_name ORDER BY min_hops, n_name""".stripMargin

  private def subRecursiveSql(t: String => String) =
    s"""WITH RECURSIVE paircnt AS (
       |${paircntFrag(t)}
       |),
       |trade AS (
       |${tradeFrag("paircnt")}
       |),
       |seed AS (
       |${seedFrag("paircnt")}
       |),
       |${reachCteAndSelect("trade", "seed", t("nation"))}""".stripMargin

  /** Spark execution path for sub_recursive: the heavy pre-loop work
    * (4-way fact join → ≤25²-row edge aggregate → top-3 trade graph +
    * seed) is lazily local-checkpointed so it EXECUTES exactly once —
    * every UnionLoop iteration then scans the ~75-row cached RDD
    * instead of replaying the fact pipeline. ExecCountSpec pins the
    * once-only property with a SparkListener STAGE-COUNT bound (a
    * plan-string pin provably cannot see execution counts — the r13
    * PlanSpec pin passed while the loop re-executed the join 5×).
    * Views are dropped immediately (resolution is eager at sql()).
    */
  private[graft] def subRecursive(s: SparkSession, d: String): DataFrame = {
    // coalesce(1) before the checkpoints: trade/seed are ≤ 25²-row BY
    // CONSTRUCTION (nation-key pairs), so single-partition is the
    // scale-safe shape at ANY sf — without it every loop stage runs
    // 32 near-empty tasks over a 75-row frame.
    val paircnt = s.sql(paircntFrag(pq(d, _))).coalesce(1)
      .localCheckpoint(false)
    paircnt.createOrReplaceTempView("graft_subrec_paircnt")
    val trade = s.sql(tradeFrag("graft_subrec_paircnt")).coalesce(1)
      .localCheckpoint(false)
    val seed = s.sql(seedFrag("graft_subrec_paircnt")).coalesce(1)
      .localCheckpoint(false)
    trade.createOrReplaceTempView("graft_subrec_trade")
    seed.createOrReplaceTempView("graft_subrec_seed")
    val out = s.sql("WITH RECURSIVE " + reachCteAndSelect(
      "graft_subrec_trade", "graft_subrec_seed", pq(d, "nation")))
    Seq("graft_subrec_paircnt", "graft_subrec_trade", "graft_subrec_seed")
      .foreach(s.catalog.dropTempView(_))
    out
  }

  private def macroWaitingSql(t: String => String) =
    s"""SELECT n_name, s_name, COUNT(*) AS numwait
       |FROM ${t("lineitem")} AS l1
       |JOIN ${t("orders")}   ON o_orderkey = l1.l_orderkey
       |JOIN ${t("supplier")} ON s_suppkey = l1.l_suppkey
       |JOIN ${t("nation")}   ON n_nationkey = s_nationkey
       |WHERE o_orderstatus = 'F'
       |  AND l1.l_returnflag = 'R'
       |  AND EXISTS (SELECT 1 FROM ${t("lineitem")} AS l2
       |              WHERE l2.l_orderkey = l1.l_orderkey
       |                AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM ${t("lineitem")} AS l3
       |                  WHERE l3.l_orderkey = l1.l_orderkey
       |                    AND l3.l_suppkey <> l1.l_suppkey
       |                    AND l3.l_returnflag = 'R')
       |GROUP BY n_name, s_name
       |ORDER BY numwait DESC, n_name, s_name""".stripMargin

  private def subInSql(t: String => String) =
    s"""SELECT c_custkey, c_name
       |FROM ${t("customer")}
       |WHERE c_custkey IN (SELECT o_custkey FROM ${t("orders")}
       |                    WHERE o_orderstatus = 'O')
       |ORDER BY c_custkey""".stripMargin

  private def subNotInSql(t: String => String) =
    s"""SELECT c_custkey, c_name
       |FROM ${t("customer")}
       |WHERE c_custkey NOT IN (SELECT o_custkey FROM ${t("orders")}
       |                        WHERE o_orderstatus = 'F')
       |ORDER BY c_custkey""".stripMargin

  /** The AT-SCALE spelling of `sub_not_in`'s NOT IN (r15): Spark can
    * only execute a null-aware anti join as a broadcast (the `sub_not_in`
    * scale contract above), so a NOT IN whose inner side outgrows
    * executor memory needs the decomposed 3VL-EXACT equivalent —
    *
    *   x NOT IN S  ⟺  NOT EXISTS (s = x)            — plain LeftAnti,
    *                                                   shuffle-able
    *               AND count(s IS NULL in S) = 0     — one-row scalar
    *               AND (x IS NOT NULL OR |S| = 0)    — one-row scalar
    *
    * The correlated piece is a null-REJECTING equality, so
    * RewritePredicateSubquery plans a plain LeftAnti equi-join that
    * shuffles on the key at any scale (never the nullAware flag, never
    * a BroadcastNestedLoopJoin); the two uncorrelated scalar counts
    * compute once each. Every 3VL corner is preserved exactly — inner
    * NULL empties the result, an outer NULL key drops against a
    * non-empty inner but survives an EMPTY inner (the vacuous-truth
    * corner the common `x IS NOT NULL AND NOT EXISTS` shorthand gets
    * wrong) — pinned against Spark's NATIVE NOT IN on a four-corner
    * NULL fixture in OperatorSemanticsSpec. The oracle runs DuckDB's
    * native NOT IN on the same inner text, so the two engines must
    * agree via different strategies (the `sub_all` precedent).
    */
  private def subNotInScalableSql(t: String => String) =
    s"""SELECT c_custkey, c_name
       |FROM ${t("customer")} AS c
       |WHERE NOT EXISTS (SELECT 1 FROM ${t("orders")} AS o
       |                  WHERE o.o_orderstatus = 'F'
       |                    AND o.o_custkey = c.c_custkey)
       |  AND (SELECT COUNT(*) FROM ${t("orders")} AS o
       |       WHERE o.o_orderstatus = 'F' AND o.o_custkey IS NULL) = 0
       |  AND (c.c_custkey IS NOT NULL
       |       OR (SELECT COUNT(*) FROM ${t("orders")} AS o
       |           WHERE o.o_orderstatus = 'F') = 0)
       |ORDER BY c_custkey""".stripMargin

  /** Quantified comparisons (`>= ALL` / `< ANY`): Spark 4.1.2's parser
    * REJECTS the quantified spelling outright (PARSE_SYNTAX_ERROR at
    * `ALL (`/`ANY (` — probed r14), so these two keys pin the
    * documented REWRITE the analyst must apply, cross-checked against
    * DuckDB evaluating the NATIVE quantified form on the same inner
    * text. That is a stronger oracle than a shared text: the two
    * engines compute the answer by different strategies and must
    * still hash-match.
    *
    *   - `x >= ALL (S)` ships as
    *     `NOT EXISTS (SELECT 1 FROM (SELECT MAX(s) AS hi FROM S) WHERE hi > x)`
    *     — correct for EMPTY and non-empty null-free S, unlike the r14
    *     MAX-threshold form (`x >= (SELECT MAX(s))`), whose NULL gate
    *     dropped every row on an empty S where ALL keeps them all
    *     (OperatorSemanticsSpec now pins the agreeing side). The
    *     textbook spelling puts NOT EXISTS over the RAW inner with
    *     `s > x`, but that decorrelates to an anti-join with a pure
    *     inequality condition — a nested-loop of |outer|·|S|
    *     comparisons that melts at scale. Reducing the inner to its
    *     MAX first is semantics-preserving for `>` (x clears ALL of S
    *     iff it clears max(S); an empty S yields ONE all-NULL
    *     aggregate row whose `NULL > x` never matches, so NOT EXISTS
    *     correctly keeps every outer row) and shrinks the anti-join's
    *     build side to ONE row: the plan is a broadcast nested-loop
    *     LeftAnti over a constant side — O(|outer|) work at any scale,
    *     the same constant-side shape as the corpus-totals crossJoins.
    *     `>=`/`>` orientation: `x >= ALL(S)` fails iff some s > x,
    *     and the global-max order always clears the bar, keeping the
    *     key non-empty at every sf.
    *   - `x < ANY (S)` ≡ `x < (SELECT MAX(s) FROM S)` INCLUDING the
    *     empty-S case (ANY → false, NULL comparison → false), so the
    *     correlated form needs no non-empty caveat. The correlated
    *     rewrite decorrelates exactly like sub_correlated_eq: one
    *     max-per-custkey aggregate joined back on the equality, the
    *     comparison as residual — two fact scans + hash join at any
    *     scale, never a per-row loop.
    */
  private def subAllInner(t: String => String) =
    s"""SELECT o2.o_totalprice FROM ${t("orders")} AS o2
       |      JOIN ${t("customer")} ON c_custkey = o2.o_custkey
       |      WHERE c_nationkey = 1""".stripMargin

  private def subAllSparkSql(t: String => String) =
    s"""SELECT o_orderkey, o_custkey, o_totalprice
       |FROM ${t("orders")} AS o1
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM (SELECT MAX(o_totalprice) AS hi FROM (
       |${subAllInner(t)}) AS q) AS qm
       |  WHERE qm.hi > o1.o_totalprice)
       |ORDER BY o_orderkey""".stripMargin

  private def subAllOracleSql(t: String => String) =
    s"""SELECT o_orderkey, o_custkey, o_totalprice
       |FROM ${t("orders")}
       |WHERE o_totalprice >= ALL (
       |${subAllInner(t)})
       |ORDER BY o_orderkey""".stripMargin

  private def subAnySparkSql(t: String => String) =
    s"""SELECT o_custkey, o_orderkey, o_totalprice
       |FROM ${t("orders")} AS o
       |WHERE o.o_totalprice < (SELECT MAX(o2.o_totalprice)
       |                        FROM ${t("orders")} AS o2
       |                        WHERE o2.o_custkey = o.o_custkey)
       |ORDER BY o_custkey, o_orderkey""".stripMargin

  private def subAnyOracleSql(t: String => String) =
    s"""SELECT o_custkey, o_orderkey, o_totalprice
       |FROM ${t("orders")} AS o
       |WHERE o.o_totalprice < ANY (SELECT o2.o_totalprice
       |                            FROM ${t("orders")} AS o2
       |                            WHERE o2.o_custkey = o.o_custkey)
       |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Correlated scalar subqueries in the SELECT list (projection
    * position — sub_scalar pins only the WHERE position). TWO scalars
    * over the same correlated inner: COUNT(*) carries the classic
    * silent-wrongness trap (count over an empty group is 0, NOT NULL —
    * Spark's decorrelation to a left outer aggregate join must plan
    * the NULL→0 coalesce; OperatorSemanticsSpec pins it on a planted
    * zero-order customer), and MAX rides along so
    * MergeScalarSubqueries can collapse both into ONE aggregate join
    * (PlanSpec pins the merge). Shared text, both engines.
    */
  private def subSelectScalarSql(t: String => String) =
    s"""SELECT c_custkey, c_name,
       |       (SELECT COUNT(*) FROM ${t("orders")}
       |        WHERE o_custkey = c_custkey) AS n_orders,
       |       (SELECT MAX(o_totalprice) FROM ${t("orders")}
       |        WHERE o_custkey = c_custkey) AS max_price
       |FROM ${t("customer")}
       |ORDER BY c_custkey""".stripMargin

  /** LATERAL correlated subquery with ORDER BY + LIMIT — the "top-3
    * per group as a join" spelling (completes the §2.13 syntax
    * surface; topk_group proves the same plan shape from the window
    * spelling). Shared text: DuckDB executes LATERAL natively and
    * returns the identical rows (probed). The full tiebreak
    * (totalprice DESC, orderkey) makes the top-3 set deterministic in
    * both engines.
    */
  private def subLateralSql(t: String => String) =
    s"""SELECT c_custkey, o_orderkey, o_totalprice
       |FROM ${t("customer")},
       |LATERAL (SELECT o_orderkey, o_totalprice FROM ${t("orders")}
       |         WHERE o_custkey = c_custkey
       |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3)
       |ORDER BY c_custkey, o_orderkey""".stripMargin

  private def subCorrelatedEqSql(t: String => String) =
    s"""SELECT o_custkey, o_orderkey, o_totalprice
       |FROM ${t("orders")} AS o
       |WHERE o_totalprice = (SELECT MIN(o2.o_totalprice)
       |                      FROM ${t("orders")} AS o2
       |                      WHERE o2.o_custkey = o.o_custkey)
       |ORDER BY o_custkey, o_orderkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "sub_scalar" -> ((s, d) => s.sql(subScalarSql(pq(d, _)))),
    "sub_correlated" -> ((s, d) => s.sql(subCorrelatedSql(pq(d, _)))),
    "sub_correlated_eq" -> ((s, d) => s.sql(subCorrelatedEqSql(pq(d, _)))),
    "sub_in" -> ((s, d) => s.sql(subInSql(pq(d, _)))),
    "sub_not_in" -> ((s, d) => s.sql(subNotInSql(pq(d, _)))),
    "sub_not_in_scalable" -> ((s, d) => s.sql(subNotInScalableSql(pq(d, _)))),
    "sub_all" -> ((s, d) => s.sql(subAllSparkSql(pq(d, _)))),
    "sub_any" -> ((s, d) => s.sql(subAnySparkSql(pq(d, _)))),
    "sub_select_scalar" -> ((s, d) => s.sql(subSelectScalarSql(pq(d, _)))),
    "sub_lateral" -> ((s, d) => s.sql(subLateralSql(pq(d, _)))),
    "sub_recursive" -> (subRecursive(_, _)),
    "macro_waiting" -> ((s, d) => s.sql(macroWaitingSql(pq(d, _))))
  )

  val oracle: Map[String, String] = Map(
    "sub_scalar" -> subScalarSql(identity),
    "sub_correlated" -> subCorrelatedSql(identity),
    "sub_correlated_eq" -> subCorrelatedEqSql(identity),
    "sub_in" -> subInSql(identity),
    "sub_not_in" -> subNotInSql(identity),
    // DuckDB evaluates the NATIVE NOT IN where Spark runs the
    // decomposed anti-join form — different strategies must agree.
    "sub_not_in_scalable" -> subNotInSql(identity),
    "sub_all" -> subAllOracleSql(identity),
    "sub_any" -> subAnyOracleSql(identity),
    "sub_select_scalar" -> subSelectScalarSql(identity),
    "sub_lateral" -> subLateralSql(identity),
    "sub_recursive" -> subRecursiveSql(identity),
    "macro_waiting" -> macroWaitingSql(identity)
  )
}
