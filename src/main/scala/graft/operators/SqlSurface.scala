package graft.operators


import graft.{Q, Tables}

/** Spark 4 SQL-surface family (round 12): procedural SQL scripting and
  * the VARIANT semi-structured type — the two headline SQL features a
  * user of the deployed reference stack (dask `df.query`-style string
  * queries; reference deployed lib per dask_ssh_docker/__init__.py:307)
  * gains by arriving on Spark 4, each exercised end-to-end against a
  * DuckDB value oracle.
  *
  *  - q211 drives BEGIN…END / DECLARE / SET / WHILE control flow: the
  *    in-engine replacement for the driver-side python loop a dask user
  *    writes around `compute()` (each round re-submitting a graph). The
  *    loop body is a full aggregate query per iteration; the oracle
  *    unrolls the same fixed-point as chained CTEs.
  *  - q212 drives parse_json → VARIANT → typed-path extraction
  *    (`variant_get`, `try_variant_get`, `schema_of_variant`): the
  *    schema-on-read path for event payloads that at 100 TB replaces
  *    "cast the whole JSON column to one rigid struct" — per-row typed
  *    access with NULL-on-missing and loud-or-NULL type mismatches.
  *
  * Scale posture: q211's loop is O(iterations) FULL scans by design —
  * the point of in-engine scripting is that each round is one
  * map-side-combined aggregate (no driver collect between rounds beyond
  * the scalar); q212 is a single streamed scan, the variant parse is a
  * per-row scalar op inside codegen, and the roll-up is a 5-group
  * aggregate.
  */
object SqlSurface {

  /** PROCEDURAL SQL SCRIPTING (Spark 4 BEGIN…END): iterative outlier
    * trim to a fixed point — each round recomputes the mean of
    * `l_extendedprice` over rows at most 1.2× the previous round's
    * mean, a 4-round DECLARE/WHILE loop with the per-round (mean, kept
    * count) appended to an ARRAY<STRUCT> variable, posexploded as the
    * result ledger.
    *
    * Cross-engine float parity: prices enter as exact integer pennies
    * (`floor(price·100)` BIGINT), each round's mean is an EXACT integer
    * sum cast to double and divided by the kept count — one
    * deterministic division, no order-dependent double summation — so
    * the ledger matches DuckDB's unrolled-CTE oracle bit-for-bit. The
    * fixture dynamics are real: 4 distinct means (5.3e6 → 1.2e6
    * pennies), strictly decreasing kept counts.
    *
    * The scripting conf is session-settable; enabled here so
    * Verify/Bench sessions (which don't pre-enable it) run the query
    * unchanged, and RESTORED after the script returns — the script
    * executes eagerly inside `s.sql` (each SET runs its aggregate
    * action), so nothing downstream needs the flag, and leaving it set
    * would leak per-call session-conf mutation into every subsequent
    * query on the shared session (r12 advisory; the same hazard the r8
    * advisory bans for loaders). */
  val qSqlScriptingTrim: Q = Q(
    "q211_sql_scripting_trim",
    """WITH pr AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS p
      |            FROM lineitem),
      |i0 AS (SELECT CAST(sum(p) AS DOUBLE) / count(*) AS mu,
      |              count(*) AS n_kept FROM pr),
      |i1 AS (SELECT CAST(sum(p) AS DOUBLE) / count(*) AS mu,
      |              count(*) AS n_kept FROM pr
      |       WHERE p <= 1.2 * (SELECT mu FROM i0)),
      |i2 AS (SELECT CAST(sum(p) AS DOUBLE) / count(*) AS mu,
      |              count(*) AS n_kept FROM pr
      |       WHERE p <= 1.2 * (SELECT mu FROM i1)),
      |i3 AS (SELECT CAST(sum(p) AS DOUBLE) / count(*) AS mu,
      |              count(*) AS n_kept FROM pr
      |       WHERE p <= 1.2 * (SELECT mu FROM i2))
      |SELECT 0 AS iter, mu AS mu_pennies, n_kept FROM i0
      |UNION ALL SELECT 1, mu, n_kept FROM i1
      |UNION ALL SELECT 2, mu, n_kept FROM i2
      |UNION ALL SELECT 3, mu, n_kept FROM i3
      |ORDER BY iter""".stripMargin
  ) { (s, d) =>
    val prevScripting = s.conf.getOption("spark.sql.scripting.enabled")
    s.conf.set("spark.sql.scripting.enabled", "true")
    try {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_scr_lineitem")
      s.sql("""
      |BEGIN
      |  DECLARE cur STRUCT<mu: DOUBLE, n_kept: BIGINT>;
      |  DECLARE hist ARRAY<STRUCT<mu: DOUBLE, n_kept: BIGINT>> DEFAULT ARRAY();
      |  DECLARE it INT DEFAULT 0;
      |  SET cur = (SELECT named_struct(
      |               'mu', CAST(sum(p) AS DOUBLE) / count(*),
      |               'n_kept', count(*))
      |             FROM (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS p
      |                   FROM graft_scr_lineitem));
      |  SET hist = array_append(hist, cur);
      |  WHILE it < 3 DO
      |    SET cur = (SELECT named_struct(
      |                 'mu', CAST(sum(p) AS DOUBLE) / count(*),
      |                 'n_kept', count(*))
      |               FROM (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS p
      |                     FROM graft_scr_lineitem)
      |               WHERE p <= 1.2 * cur.mu);
      |    SET hist = array_append(hist, cur);
      |    SET it = it + 1;
      |  END WHILE;
      |  SELECT pos AS iter, item.mu AS mu_pennies, item.n_kept AS n_kept
      |  FROM (SELECT posexplode(hist) AS (pos, item)) ORDER BY iter;
      |END""".stripMargin)
    } finally prevScripting match {
      case Some(v) => s.conf.set("spark.sql.scripting.enabled", v)
      case None => s.conf.unset("spark.sql.scripting.enabled")
    }
  }

  /** VARIANT SEMI-STRUCTURED TYPE (Spark 4): event payloads parsed once
    * with `parse_json`, then accessed by typed path —
    *  - `variant_get($.k, bigint/int)`: typed extraction feeding sums;
    *  - a missing path returns NULL (n_missing counts it: 0 non-nulls);
    *  - `try_variant_get` with an impossible target type (array<int>
    *    from a scalar) yields NULL instead of failing (n_bad = 0);
    *  - `schema_of_variant` pins the inferred per-row schema, and
    *    n_schemas = 1 proves it is uniform across the corpus
    *    (data-derived on the Spark side; the oracle states the pinned
    *    literal — DuckDB has no variant inference to mirror);
    *  - a NESTED variant built from typed columns round-trips through
    *    to_json → parse_json → `$.m.v` double extraction exactly
    *    (min/max are order-free; shortest-round-trip JSON doubles are
    *    lossless on both engines).
    *
    * Scale note: at 100 TB the win over get_json_object is parse-once /
    * extract-many and binary (shredded) storage; here every extraction
    * is a codegen'd per-row scalar inside one streamed scan. */
  val qVariantShred: Q = Q(
    "q212_variant_shred",
    """SELECT event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |       max(CAST(props->>'$.k' AS INT)) AS max_k,
      |       CAST(count(props->>'$.missing') AS BIGINT) AS n_missing,
      |       CAST(0 AS BIGINT) AS n_bad,
      |       -- Spark's inferred variant schema, uniform across rows
      |       -- (n_schemas proves uniformity data-derived on the Spark
      |       -- side; DuckDB has no variant inference to mirror)
      |       'OBJECT<k: BIGINT>' AS vschema,
      |       CAST(1 AS BIGINT) AS n_schemas,
      |       round(min(value), 6) AS min_v,
      |       round(max(value), 6) AS max_v
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d).createOrReplaceTempView("graft_var_events")
    s.sql("""
      |SELECT event_type,
      |       count(*) AS n,
      |       sum(variant_get(v, '$.k', 'bigint')) AS sum_k,
      |       max(variant_get(v, '$.k', 'int')) AS max_k,
      |       count(variant_get(v, '$.missing', 'string')) AS n_missing,
      |       count(try_variant_get(v, '$.k', 'array<int>')) AS n_bad,
      |       min(schema_of_variant(v)) AS vschema,
      |       CAST(count(DISTINCT schema_of_variant(v)) AS BIGINT) AS n_schemas,
      |       round(min(variant_get(nv, '$.m.v', 'double')), 6) AS min_v,
      |       round(max(variant_get(nv, '$.m.v', 'double')), 6) AS max_v
      |FROM (SELECT event_type, parse_json(props) AS v,
      |             parse_json(to_json(named_struct(
      |               'm', named_struct('v', value)))) AS nv
      |      FROM graft_var_events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** RECURSIVE CTE (Spark 4.1 WITH RECURSIVE): per-root reachability
    * over the implicit binary tree on the dense orderkey domain
    * (children 2k, 2k+1) — each recursion step is a REAL frontier join
    * against the orders table (explode the candidate children, equi-join
    * to keep the ones that exist), not driver-side arithmetic. From
    * roots 1–4 the walk reaches 15k/8k/7k/4k keys in 11–13 levels and
    * reports reach count, max depth, and the exact integer-pennies
    * revenue of the reach set.
    *
    * This is the declarative twin of the hand-rolled iterative loops
    * (t63/t71 connected components, v68 Lloyd): the engine owns the
    * fixpoint. Scale shape: each level is one equi-join shuffle keyed on
    * the child id with the frontier as the small side; depth is
    * O(log |keys|) for this topology, and the level limit
    * (spark.sql.cteRecursionLevelLimit) is the same loud-cap discipline
    * as t63's escalation round cap. Exact value oracle: DuckDB runs the
    * identical WITH RECURSIVE; sums are exact BIGINT pennies. */
  val qRecursiveCte: Q = Q(
    "q213_recursive_cte_reach",
    """WITH RECURSIVE walk(root, k, depth) AS (
      |  SELECT o_orderkey, o_orderkey, 0 FROM orders
      |  WHERE o_orderkey BETWEEN 1 AND 4
      |  UNION ALL
      |  SELECT c.root, o.o_orderkey, c.depth + 1
      |  FROM (SELECT w.root, unnest([w.k * 2, w.k * 2 + 1]) AS ck, w.depth
      |        FROM walk w) c
      |  JOIN orders o ON o.o_orderkey = c.ck)
      |SELECT root, CAST(count(*) AS BIGINT) AS n_reach,
      |       max(depth) AS max_depth,
      |       CAST(sum(CAST(floor(ot * 100) AS BIGINT)) AS BIGINT) AS pennies
      |FROM (SELECT w.root, w.depth, o.o_totalprice AS ot
      |      FROM walk w JOIN orders o ON o.o_orderkey = w.k)
      |GROUP BY root ORDER BY root""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("graft_rec_orders")
    // CAP SIZING lives in the HARNESS session builders (Verify/Bench
    // set spark.sql.cteRecursionRowLimit=32M), not here: the walk's
    // reach is O(|orderkey domain|), so the default 1M cap — ample for
    // the driver fixtures — fires on the 10× sf1 differential corpus
    // (1.5M keys). Mutating the session conf from inside a registered
    // query would silently weaken the runaway-recursion backstop 32×
    // for everything else sharing the session (r15 review); a default
    // session running this query past ~1M keys gets the documented
    // loud cap, which is the correct out-of-the-box behavior.
    s.sql("""
      |WITH RECURSIVE walk(root, k, depth) AS (
      |  SELECT o_orderkey, o_orderkey, 0 FROM graft_rec_orders
      |  WHERE o_orderkey BETWEEN 1 AND 4
      |  UNION ALL
      |  SELECT * FROM (
      |    WITH f1 AS (
      |      SELECT c.root, o.o_orderkey AS k, c.depth + 1 AS depth
      |      FROM (SELECT root, explode(array(k * 2, k * 2 + 1)) AS ck, depth
      |            FROM walk WHERE depth % 2 = 0) c
      |      JOIN graft_rec_orders o ON o.o_orderkey = c.ck)
      |    SELECT root, k, depth FROM f1
      |    UNION ALL
      |    SELECT c.root, o.o_orderkey, c.depth + 1
      |    FROM (SELECT root, explode(array(k * 2, k * 2 + 1)) AS ck, depth
      |          FROM f1) c
      |    JOIN graft_rec_orders o ON o.o_orderkey = c.ck))
      |SELECT root, count(*) AS n_reach, max(depth) AS max_depth,
      |       sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS pennies
      |FROM walk w JOIN graft_rec_orders o ON o.o_orderkey = w.k
      |GROUP BY root ORDER BY root""".stripMargin)
  }

  /** EXECUTE IMMEDIATE + SQL session variables (Spark 4): the
    * injection-safe parameterized-statement surface — a quantity cap is
    * computed INTO a session variable (`SET VAR` from a scalar
    * subquery), then bound into a template via a `?` placeholder. The
    * string template never concatenates a value, so a hostile filter
    * value cannot alter the statement — the SQL-layer twin of
    * `spark.sql(text, args)` named-parameter binding (GraftSpec asserts
    * both binding styles return identical rows). Cap = max(quantity)/2
    * is exact in double, so the filter boundary is engine-deterministic;
    * revenue is exact integer pennies. */
  val qExecuteImmediate: Q = Q(
    "q214_execute_immediate",
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |         AS pennies
      |FROM lineitem
      |WHERE l_quantity <= (SELECT max(l_quantity) / 2 FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("graft_ei_lineitem")
    s.sql("DECLARE OR REPLACE VARIABLE graft_qty_cap DOUBLE")
    s.sql("SET VAR graft_qty_cap = " +
      "(SELECT max(l_quantity) / 2 FROM graft_ei_lineitem)")
    s.sql("""
      |EXECUTE IMMEDIATE
      |  'SELECT l_returnflag, count(*) AS n,
      |          sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS pennies
      |   FROM graft_ei_lineitem WHERE l_quantity <= ?
      |   GROUP BY l_returnflag ORDER BY l_returnflag'
      |  USING graft_qty_cap""".stripMargin)
  }

  /** SQL-DEFINED SCALAR FUNCTION (Spark 4 `CREATE FUNCTION … RETURN
    * expr` — VERDICT r12 missing #3, the last string-query surface):
    * the discounted-pennies formula is declared ONCE as a temporary
    * SQL UDF and invoked from query text. The analyzer INLINES the
    * body into the calling plan — the aggregate runs over a plain
    * codegen'd arithmetic expression, not a per-row function call or
    * sub-plan (PlanSpec pins: no SQLFunction/ScalaUDF node survives
    * analysis, floor lands inside the aggregate's child projection).
    * That inlining is the whole scale story: a SQL UDF costs exactly
    * what writing the expression inline costs, at any corpus size.
    * Float parity: per-row `p * (1 - d) * 100` is identical IEEE
    * arithmetic on both engines (same literal order), floored to
    * exact integer pennies before the BIGINT sum. */
  val qSqlUdfScalar: Q = Q(
    "q217_sql_udf_scalar",
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
      |                     AS BIGINT)) AS BIGINT) AS disc_pennies
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("graft_fn_lineitem")
    // idempotent registration (r14 verdict #3): re-creating on every
    // pass logs a "replaced a previously registered function" warning
    // per bench sweep; the body is a pure function of its args, so the
    // first registration is definitive for the session
    if (!s.catalog.functionExists("graft_disc_pennies"))
      s.sql("""CREATE TEMPORARY FUNCTION graft_disc_pennies(
              |  p DOUBLE, d DOUBLE) RETURNS BIGINT
              |RETURN CAST(floor(p * (1 - d) * 100) AS BIGINT)""".stripMargin)
    s.sql("""SELECT l_returnflag, count(*) AS n,
            |       sum(graft_disc_pennies(l_extendedprice, l_discount))
            |         AS disc_pennies
            |FROM graft_fn_lineitem
            |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** SQL-DEFINED TABLE FUNCTION (Spark 4 `CREATE FUNCTION … RETURNS
    * TABLE`): a parameterized relation — big orders above a price cap,
    * projected to exact pennies — declared in SQL and invoked in the
    * FROM clause like a table. The body (which queries a real table)
    * is inlined as a sub-plan at invocation, so the aggregate above it
    * optimizes THROUGH the function boundary: the filter lands on the
    * orders scan, not on a materialized intermediate. The declared
    * RETURNS TABLE schema is a contract — the body's columns coerce to
    * it. DuckDB replays the inlined form exactly. */
  val qSqlUdtf: Q = Q(
    "q218_sql_udtf",
    """SELECT o_custkey, count(*) AS n,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS pennies
      |FROM orders WHERE o_totalprice > 450000.0
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("graft_fn_orders")
    // idempotent registration — same rationale as q217 (the TVF body
    // reads the temp view by name at INVOCATION time, so re-pointing
    // the view per run keeps the first registration correct)
    if (!s.catalog.functionExists("graft_big_orders"))
      s.sql("""CREATE TEMPORARY FUNCTION graft_big_orders(
              |  cap DOUBLE) RETURNS TABLE(o_custkey BIGINT, pennies BIGINT)
              |RETURN SELECT o_custkey,
              |              CAST(floor(o_totalprice * 100) AS BIGINT) AS pennies
              |       FROM graft_fn_orders WHERE o_totalprice > cap""".stripMargin)
    s.sql("""SELECT o_custkey, count(*) AS n,
            |       sum(pennies) AS pennies
            |FROM graft_big_orders(450000.0D)
            |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
  }

  /** SQL PIPE SYNTAX (Spark 4 `|>` operators — round 14): the linear
    * query form (FROM … |> WHERE … |> EXTEND … |> AGGREGATE … |> ORDER
    * BY) that reads in dataflow order, the string-query twin of the
    * DataFrame API's method chaining. Pure PARSER surface: each pipe
    * stage lowers to the same logical operators the ANSI form produces,
    * so the optimized plan is IDENTICAL to the nested-SELECT twin
    * (PlanSpec pins plan equality) — zero cost at any scale, by
    * construction. `EXTEND` adds the exact-pennies column without
    * re-listing the projection; `AGGREGATE … GROUP BY` emits grouping
    * cols then aggregates. DuckDB replays the ANSI equivalent. */
  val qSqlPipeSyntax: Q = Q(
    "q220_sql_pipe_syntax",
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
      |                     AS BIGINT)) AS BIGINT) AS disc_pennies
      |FROM lineitem WHERE l_quantity >= 30
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("graft_fn_lineitem")
    s.sql("""FROM graft_fn_lineitem
            ||> WHERE l_quantity >= 30
            ||> EXTEND CAST(floor(l_extendedprice * (1 - l_discount) * 100)
            |          AS BIGINT) AS pennies
            ||> AGGREGATE count(*) AS n, sum(pennies) AS disc_pennies
            |   GROUP BY l_returnflag
            ||> ORDER BY l_returnflag""".stripMargin)
      .select("l_returnflag", "n", "disc_pennies")
  }

  /** IDENTIFIER CLAUSE + GROUP/ORDER BY ALL (round 14): dynamic table
    * and column names bound through `IDENTIFIER(:param)` with named
    * parameters — the injection-safe form of dynamic SQL over
    * IDENTIFIERS, completing q214's value-parameter story (a value can
    * bind via `?`/`:name`, but a table or column name cannot be a
    * VALUE parameter; IDENTIFIER is the engine-checked escape hatch —
    * a hostile string fails identifier resolution instead of splicing
    * into the statement). GROUP BY ALL / ORDER BY ALL infer the
    * grouping and ordering from the projection — sugar the analyzer
    * expands before optimization, so the plan is the explicit form's.
    * DuckDB supports both (same inference rules on this shape). */
  val qIdentifierClause: Q = Q(
    "q221_identifier_clause",
    """SELECT o_orderstatus, count(*) AS n,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS pennies
      |FROM orders GROUP BY ALL ORDER BY ALL""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("graft_fn_orders")
    s.sql(
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(floor(IDENTIFIER(:priceCol) * 100) AS BIGINT))
        |         AS BIGINT) AS pennies
        |FROM IDENTIFIER(:tbl) GROUP BY ALL ORDER BY ALL""".stripMargin,
      Map("tbl" -> "graft_fn_orders", "priceCol" -> "o_totalprice"))
  }

  val all: Seq[Q] = Seq(qSqlScriptingTrim, qVariantShred, qRecursiveCte,
    qExecuteImmediate, qSqlUdfScalar, qSqlUdtf, qSqlPipeSyntax,
    qIdentifierClause)
}
