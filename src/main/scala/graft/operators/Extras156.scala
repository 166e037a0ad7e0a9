package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-13 additions, part 10: the directed triad census (the
  * Holland-Leinhardt motif spectrum — the classic social-network
  * structure fingerprint), the PASCAL-VOC 11-point interpolated
  * average precision, and empirical tail-dependence coefficients
  * (the copula diagnostic behind joint-extremes risk).
  *
  * Scale shape: the census enumerates only triples touching ≥1 edge
  * (support-dyads × nodes — |D|·n rows, never n³) and reads each
  * triple's six direction bits from ONE broadcast dyad-flag relation
  * joined three times; the null-triad count arrives arithmetically as
  * C(n,3) − classified. AP-11 and tail-dependence fold the fact table
  * once onto value spines (11-point grid / cum thresholds).
  *
  * Determinism contract (SURVEY §2.13): the canonical triad code is
  * an integer min over the 6 relabelings' bit-shuffles (exact);
  * m/a/n dyad counts are permutation-invariant integer sums; the
  * interpolated precision max and λ ratios are IEEE on exact integer
  * counts with ≥-threshold ties fixed identically on both engines.
  */
object Extras156 {
  import graft.Det._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TRIAD CENSUS — canonical-code census of all node triples of the
    // directed chain graph: code = min over the 6 permutations of the
    // 6-bit adjacency encoding (b0=x→y, b1=y→x, b2=x→z, b3=z→x,
    // b4=y→z, b5=z→y for x<y<z); the 16 isomorphism classes appear as
    // distinct codes, labelled by their permutation-invariant
    // (mutual, asym, null-dyad) signature. Triples with no edges are
    // counted arithmetically (C(n,3) − classified).
    "q_graph_triad_census" -> ((s, d) => {
      val e = Extras138.directedEdges(s, d).duckCkpt()
      val nodes = Extras138.nodesOf(e)
      // dyad flags on unordered support pairs (u < v)
      val df = e.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"),
          (col("src") < col("dst")).cast("long").as("fwd"),
          (col("src") > col("dst")).cast("long").as("bwd"))
        .groupBy(col("u"), col("v"))
        .agg(max(col("fwd")).as("f"), max(col("bwd")).as("b"))
        .duckCkpt()
      // Batagelj-Mrvar shape: enumerate only triples with ≥2 non-null
      // dyads (wedges — two dyads sharing a node, Σdeg² over the
      // SUPPORT graph); the one-dyad and null classes arrive
      // arithmetically below. The first cut enumerated |D|·n triples
      // and probed 58× at K=8 (measured) — this form probes ~K.
      // Round 17 (the two_hop lesson, §2.5): the wedge join's INPUT is
      // the tiny dyad list but its OUTPUT is Σdeg² — AQE's byte-based
      // coalescing sized the expansion's shuffle read from input bytes
      // and serialized it. Explicit hash repartitions at core
      // parallelism on EXACTLY the join key (both sides share it, so
      // the second side reuses the first's exchange) keep the expansion
      // parallel, and the same pin on the (x,y,z) triple dedup keeps
      // the Σdeg²-row distinct merge parallel.
      val p = s.sparkContext.defaultParallelism
      val inc = df.select(col("u").as("w"), col("v").as("o"))
        .unionByName(df.select(col("v").as("w"), col("u").as("o")))
        .repartition(p, col("w"))
      val wedges = inc.as("p").join(inc.as("q"),
          col("p.w") === col("q.w") && col("p.o") < col("q.o"))
        .select(col("p.w").as("a"), col("p.o").as("b"),
          col("q.o").as("c"))
      val triples = wedges
        .select(least(col("a"), least(col("b"), col("c"))).as("x"),
          greatest(col("a"), greatest(col("b"), col("c"))).as("z"),
          (col("a") + col("b") + col("c")
            - least(col("a"), least(col("b"), col("c")))
            - greatest(col("a"), greatest(col("b"), col("c")))).as("y"))
        .select(col("x"), col("y"), col("z"))
        .repartition(p, col("x"), col("y"), col("z"))
        .distinct()
      val dxy = df.select(col("u").as("x"), col("v").as("y"),
        col("f").as("b0"), col("b").as("b1"))
      val dxz = df.select(col("u").as("x"), col("v").as("z"),
        col("f").as("b2"), col("b").as("b3"))
      val dyz = df.select(col("u").as("y"), col("v").as("z"),
        col("f").as("b4"), col("b").as("b5"))
      val bits = triples
        .join(broadcast(dxy), Seq("x", "y"), "left")
        .join(broadcast(dxz), Seq("x", "z"), "left")
        .join(broadcast(dyz), Seq("y", "z"), "left")
        .na.fill(0L, Seq("b0", "b1", "b2", "b3", "b4", "b5"))
      val canon = least(
        expr("b0 + 2*b1 + 4*b2 + 8*b3 + 16*b4 + 32*b5"),
        expr("b1 + 2*b0 + 4*b4 + 8*b5 + 16*b2 + 32*b3"),
        expr("b5 + 2*b4 + 4*b3 + 8*b2 + 16*b1 + 32*b0"),
        expr("b2 + 2*b3 + 4*b0 + 8*b1 + 16*b5 + 32*b4"),
        expr("b4 + 2*b5 + 4*b1 + 8*b0 + 16*b3 + 32*b2"),
        expr("b3 + 2*b2 + 4*b5 + 8*b4 + 16*b0 + 32*b1"))
      val classified = bits
        .select(canon.as("code"),
          expr("b0*b1 + b2*b3 + b4*b5").as("m"),
          expr("(b0+b1 - 2*b0*b1) + (b2+b3 - 2*b2*b3)"
            + " + (b4+b5 - 2*b4*b5)").as("a"))
        .groupBy(col("code"), col("m"), col("a"))
        .agg(count(lit(1)).as("n_triads"))
        .duckCkpt() // reread by the arithmetic rows
      // arithmetic classes: each dyad sits in (n−2) triples, of which
      // the wedge-classified ones are subtracted dyad-wise
      val dy = df.agg(
        sum(expr("CAST(f = 1 AND b = 1 AS LONG)")).as("mm"),
        sum(expr("CAST(f + b = 1 AS LONG)")).as("aa"))
      val sums = classified.agg(
        coalesce(sum(col("n_triads")), lit(0L)).as("cls"),
        coalesce(sum(col("m") * col("n_triads")), lit(0L)).as("sm"),
        coalesce(sum(col("a") * col("n_triads")), lit(0L)).as("sa"))
      val arith = nodes.agg(count(lit(1)).as("nn"))
        .crossJoin(broadcast(dy)).crossJoin(broadcast(sums))
      val row012 = arith.select(lit(1L).as("code"), lit(0L).as("m"),
        lit(1L).as("a"), ((col("nn") - 2) * col("aa") - col("sa"))
          .as("n_triads"))
      val row102 = arith.select(lit(3L).as("code"), lit(1L).as("m"),
        lit(0L).as("a"), ((col("nn") - 2) * col("mm") - col("sm"))
          .as("n_triads"))
      val nullRow = arith.select(lit(0L).as("code"), lit(0L).as("m"),
        lit(0L).as("a"),
        (expr("nn * (nn - 1) * (nn - 2) div 6") - col("cls")
          - ((col("nn") - 2) * col("aa") - col("sa"))
          - ((col("nn") - 2) * col("mm") - col("sm"))).as("n_triads"))
      classified.unionByName(row012).unionByName(row102)
        .unionByName(nullRow)
        .select(col("code"), col("m").as("mutual_dyads"),
          col("a").as("asym_dyads"), col("n_triads"))
        .orderBy(col("code"))
    }),

    // 11-POINT INTERPOLATED AP — the PASCAL-VOC estimator: mean over
    // r ∈ {0.0, 0.1, …, 1.0} of max precision among thresholds whose
    // recall ≥ r; recall comparisons stay exact (10·tp ≥ r·n1).
    "q_ml_ap_11point" -> ((s, d) => {
      val per = Tables.lineitem(s, d)
        .where(col("l_returnflag").isin("R", "N"))
        .select((dec(col("l_discount")) * 100).cast("long").as("v"),
          (col("l_returnflag") === "R").cast("long").as("y"))
        .groupBy(col("v"))
        .agg(sum(col("y")).as("c1"), sum(lit(1) - col("y")).as("c0"))
      val tot = per.agg(sum(col("c1")).as("n1"), sum(col("c0")).as("n0"))
      // descending thresholds: predict positive when score >= v
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("v").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val th = per
        .withColumn("tp", sum(col("c1")).over(w))
        .withColumn("fp", sum(col("c0")).over(w))
      val grid = s.range(0, 11).select(col("id").as("r"))
      grid.join(broadcast(th.crossJoin(broadcast(tot))),
          col("tp") * 10 >= col("r") * col("n1"))
        .select(col("r"),
          (col("tp").cast("double")
            / (col("tp") + col("fp")).cast("double")).as("prec"))
        .groupBy(col("r")).agg(max(col("prec")).as("pmax"))
        .agg(count(lit(1)).as("n_points"),
          r6(sum(col("pmax")) / 11).as("ap11"))
    }),

    // TAIL DEPENDENCE — empirical upper/lower tail-dependence of
    // (quantity, extendedprice): λ_U = P(X ≥ qx.9 ∧ Y ≥ qy.9) /
    // P(Y ≥ qy.9), λ_L analog at the .1 quantiles. Thresholds are
    // exact lower order statistics (smallest value with cum count ≥
    // ⌈p·n⌉) off per-column value spines.
    "q_agg_tail_dependence" -> ((s, d) => {
      val base = Tables.lineitem(s, d)
        .select(dec(col("l_quantity")).cast("long").as("x"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("yy"))
        .duckCkpt() // three folds share the scan
      val n = base.agg(count(lit(1)).as("n"))
      // Round 16: the .9 and .1 thresholds of one column share a single
      // cum-count pass (was: one value-spine window job per (column,
      // percentile) — four passes; the conditional mins below select
      // exactly the rows the per-p `where cum*10 >= n*p` kept).
      // (Round 17: a distributed two-level prefix sum was A/B'd here and
      // REVERTED — the value spine SATURATES with volume (ScaleProbe 8×:
      // same spine rows at 1× and 8×; window form 3.74 s vs binned form
      // 3.90 s at 8×), so the serial window never becomes the bottleneck
      // while the binned form pays 3 extra exchanges/broadcasts.)
      def thr(c: String): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window.orderBy(col(c))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions.Window
            .currentRow)
        base.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(w))
          .crossJoin(broadcast(n))
          // ceil(p*n/10) = (p*n + 9) div 10
          .agg(min(when(col("cum") * 10 >= col("n") * 9, col(c)))
              .as(s"q${c}9"),
            min(when(col("cum") * 10 >= col("n") * 1, col(c)))
              .as(s"q${c}1"))
      }
      val t = n.crossJoin(broadcast(thr("x")))
        .crossJoin(broadcast(thr("yy")))
      val c = base.crossJoin(broadcast(t))
        .agg(max(col("n")).as("n"),
          max(col("qx9")).as("qx9"), max(col("qyy9")).as("qy9"),
          max(col("qx1")).as("qx1"), max(col("qyy1")).as("qy1"),
          sum((col("x") >= col("qx9") && col("yy") >= col("qyy9"))
            .cast("long")).as("joint_u"),
          sum((col("yy") >= col("qyy9")).cast("long")).as("ny_u"),
          sum((col("x") <= col("qx1") && col("yy") <= col("qyy1"))
            .cast("long")).as("joint_l"),
          sum((col("yy") <= col("qyy1")).cast("long")).as("ny_l"))
      c.select(col("n"), col("qx9"), col("qy9"),
        r6(col("joint_u").cast("double") / col("ny_u").cast("double"))
          .as("lambda_u"),
        r6(col("joint_l").cast("double") / col("ny_l").cast("double"))
          .as("lambda_l"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q_graph_triad_census" ->
      """WITH v AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS h,
                    event_type AS t, user_id AS u,
                    min(epoch_us(ts::TIMESTAMP)) AS t0
                  FROM events WHERE user_id % 7 = 0 GROUP BY 1, 2, 3),
            ch AS (SELECT u AS src, lead(u) OVER (PARTITION BY h, t
                     ORDER BY t0, u) AS dst FROM v),
            e AS (SELECT DISTINCT src, dst FROM ch
                  WHERE dst IS NOT NULL AND dst <> src),
            nodes AS (SELECT DISTINCT u FROM (
              SELECT src AS u FROM e UNION ALL SELECT dst FROM e)),
            df AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
                     MAX(CASE WHEN src < dst THEN 1 ELSE 0 END) AS f,
                     MAX(CASE WHEN src > dst THEN 1 ELSE 0 END) AS b
                   FROM e GROUP BY 1, 2),
            inc AS (SELECT u AS w, v AS o FROM df
                    UNION ALL SELECT v, u FROM df),
            triples AS (SELECT DISTINCT
                     least(p.w, least(p.o, q.o)) AS x,
                     p.w + p.o + q.o - least(p.w, least(p.o, q.o))
                       - greatest(p.w, greatest(p.o, q.o)) AS y,
                     greatest(p.w, greatest(p.o, q.o)) AS z
                   FROM inc p JOIN inc q
                     ON p.w = q.w AND p.o < q.o),
            bits AS (SELECT t.x, t.y, t.z,
                     COALESCE(xy.f, 0) AS b0, COALESCE(xy.b, 0) AS b1,
                     COALESCE(xz.f, 0) AS b2, COALESCE(xz.b, 0) AS b3,
                     COALESCE(yz.f, 0) AS b4, COALESCE(yz.b, 0) AS b5
                   FROM triples t
                   LEFT JOIN df xy ON xy.u = t.x AND xy.v = t.y
                   LEFT JOIN df xz ON xz.u = t.x AND xz.v = t.z
                   LEFT JOIN df yz ON yz.u = t.y AND yz.v = t.z),
            cls AS (SELECT least(
                     b0 + 2*b1 + 4*b2 + 8*b3 + 16*b4 + 32*b5,
                     b1 + 2*b0 + 4*b4 + 8*b5 + 16*b2 + 32*b3,
                     b5 + 2*b4 + 4*b3 + 8*b2 + 16*b1 + 32*b0,
                     b2 + 2*b3 + 4*b0 + 8*b1 + 16*b5 + 32*b4,
                     b4 + 2*b5 + 4*b1 + 8*b0 + 16*b3 + 32*b2,
                     b3 + 2*b2 + 4*b5 + 8*b4 + 16*b0 + 32*b1) AS code,
                     b0*b1 + b2*b3 + b4*b5 AS m,
                     (b0+b1 - 2*b0*b1) + (b2+b3 - 2*b2*b3)
                       + (b4+b5 - 2*b4*b5) AS a
                   FROM bits),
            agg AS (SELECT code, m, a, COUNT(*) AS n_triads
                    FROM cls GROUP BY 1, 2, 3),
            dy AS (SELECT SUM(CASE WHEN f = 1 AND b = 1 THEN 1 ELSE 0
                       END) AS mm,
                     SUM(CASE WHEN f + b = 1 THEN 1 ELSE 0 END) AS aa
                   FROM df),
            sums AS (SELECT COALESCE(SUM(n_triads), 0) AS cls_n,
                       COALESCE(SUM(m * n_triads), 0) AS sm,
                       COALESCE(SUM(a * n_triads), 0) AS sa
                     FROM agg),
            arith AS (SELECT (SELECT COUNT(*) FROM nodes) AS nn,
                        dy.mm, dy.aa, sums.cls_n, sums.sm, sums.sa
                      FROM dy, sums),
            extra AS (
              SELECT CAST(1 AS BIGINT) AS code, CAST(0 AS BIGINT) AS m,
                     CAST(1 AS BIGINT) AS a,
                     (nn - 2) * aa - sa AS n_triads FROM arith
              UNION ALL
              SELECT 3, 1, 0, (nn - 2) * mm - sm FROM arith
              UNION ALL
              SELECT 0, 0, 0, nn * (nn - 1) * (nn - 2) // 6 - cls_n
                     - ((nn - 2) * aa - sa) - ((nn - 2) * mm - sm)
              FROM arith)
         SELECT CAST(code AS BIGINT) AS code,
                CAST(m AS BIGINT) AS mutual_dyads,
                CAST(a AS BIGINT) AS asym_dyads,
                CAST(n_triads AS BIGINT) AS n_triads
         FROM (SELECT * FROM agg UNION ALL SELECT * FROM extra) z
         ORDER BY code""",

    "q_ml_ap_11point" ->
      """WITH per AS (SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS v,
                      SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS c1,
                      SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
                        AS c0
                    FROM lineitem WHERE l_returnflag IN ('R','N')
                    GROUP BY 1),
            tot AS (SELECT SUM(c1) AS n1 FROM per),
            th AS (SELECT v,
                     SUM(c1) OVER (ORDER BY v DESC
                       ROWS UNBOUNDED PRECEDING) AS tp,
                     SUM(c0) OVER (ORDER BY v DESC
                       ROWS UNBOUNDED PRECEDING) AS fp
                   FROM per),
            grid AS (SELECT unnest(generate_series(0, 10)) AS r),
            pm AS (SELECT g.r, MAX(CAST(th.tp AS DOUBLE)
                       / (th.tp + th.fp)) AS pmax
                   FROM grid g JOIN th ON th.tp * 10 >= g.r
                     * (SELECT n1 FROM tot)
                   GROUP BY g.r)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
                round(SUM(pmax) / 11, 6) AS ap11
         FROM pm""",

    "q_agg_tail_dependence" ->
      """WITH base AS (SELECT
                    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)
                      AS x,
                    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) AS yy
                  FROM lineitem),
            n AS (SELECT COUNT(*) AS n FROM base),
            qx9 AS (SELECT MIN(x) AS qx9 FROM (
                    SELECT x, SUM(COUNT(*)) OVER (ORDER BY x
                      ROWS UNBOUNDED PRECEDING) AS cum
                    FROM base GROUP BY x) t, n
                    WHERE cum * 10 >= n * 9),
            qy9 AS (SELECT MIN(yy) AS qy9 FROM (
                    SELECT yy, SUM(COUNT(*)) OVER (ORDER BY yy
                      ROWS UNBOUNDED PRECEDING) AS cum
                    FROM base GROUP BY yy) t, n
                    WHERE cum * 10 >= n * 9),
            qx1 AS (SELECT MIN(x) AS qx1 FROM (
                    SELECT x, SUM(COUNT(*)) OVER (ORDER BY x
                      ROWS UNBOUNDED PRECEDING) AS cum
                    FROM base GROUP BY x) t, n
                    WHERE cum * 10 >= n * 1),
            qy1 AS (SELECT MIN(yy) AS qy1 FROM (
                    SELECT yy, SUM(COUNT(*)) OVER (ORDER BY yy
                      ROWS UNBOUNDED PRECEDING) AS cum
                    FROM base GROUP BY yy) t, n
                    WHERE cum * 10 >= n * 1)
         SELECT (SELECT n FROM n) AS n,
                (SELECT qx9 FROM qx9) AS qx9,
                (SELECT qy9 FROM qy9) AS qy9,
                round(CAST(SUM(CASE WHEN x >= qx9 AND yy >= qy9
                    THEN 1 ELSE 0 END) AS DOUBLE)
                  / SUM(CASE WHEN yy >= qy9 THEN 1 ELSE 0 END), 6)
                  AS lambda_u,
                round(CAST(SUM(CASE WHEN x <= qx1 AND yy <= qy1
                    THEN 1 ELSE 0 END) AS DOUBLE)
                  / SUM(CASE WHEN yy <= qy1 THEN 1 ELSE 0 END), 6)
                  AS lambda_l
         FROM base, qx9, qy9, qx1, qy1"""
  )
}
