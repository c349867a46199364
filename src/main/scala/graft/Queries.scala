package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The declared operator queries (SURVEY §2 inventory mapped onto the
  * driver's TPC-H-ish tables) with their DuckDB oracle SQL.
  *
  * Engine-parity conventions (the driver hash-compares values):
  *  - column names aliased identically on both sides;
  *  - deterministic ORDER BY with full tiebreaks on both sides;
  *  - any float aggregation is quantized first — `floor(x*scale+0.5)`
  *    cast to BIGINT, summed exactly — because double summation order
  *    differs between Spark partial aggregation and DuckDB, but integer
  *    sums are order-free. Double *expressions* (no reordering) are fine:
  *    IEEE ops are deterministic given identical inputs.
  */
object Queries {

  private case class Q(name: String,
                       fn: (SparkSession, String) => DataFrame,
                       oracle: Option[String])

  /** Normalize the events `ts` column to a session-tz (UTC) TIMESTAMP,
    * whatever physical shape the generator wrote it in: INT64 nanos
    * (historical TIMESTAMP(NANOS) under the nanosAsLong knob) arrives as
    * LongType; naive timestamp[us] (current generator) arrives as
    * TIMESTAMP_NTZ under Spark's default inferTimestampNTZ. Both carry
    * the same UTC instants, so the values — and every oracle hash — are
    * unchanged; only the arrival type differs. */
  private[graft] def normTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // self-sufficient under ANY session: events.parquet needs the nanos
    // knob, which is runtime-settable (verified) — so queries also work if
    // a harness supplies its own SparkSession without our configs.
    if (name == "events")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normTs(s.read.parquet(s"$dir/$name.parquet"))
  }

  /** 8-round unrolled BPE-training replay (census -> deterministic argmax
    * -> greedy list_reduce merge per round) — shared by t11 (distributed
    * trainer) and t12 (driver-side at-scale trainer): the two are
    * bit-identical by contract, so one SQL gates both. */
  /** Shared DuckDB replay of PQ training + encoding (v9/v10): all 4
    * subspace k-means at once (`sp` keys every CTE), 1 Lloyd round, the
    * kmeans determinism discipline (integer d2, (d2, code) tiebreak,
    * integer-rounded updates, init from the 4 smallest ids, empty codes
    * keep their previous entry). Ends with `a2` = the final (id, sp,
    * code) encoding; each consumer appends its own tail CTEs. */
  private lazy val pqReplayPrefix: String =
    """WITH q AS (SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |spt AS (SELECT CAST(i AS INT) AS sp FROM range(0,4) t(i)),
      |sdt AS (SELECT CAST(i AS INT) AS d FROM range(0,16) t(i)),
      |sv AS (SELECT q.id, spt.sp,
      |         list_transform(range(16), d -> q.qv[spt.sp*16 + d + 1]) AS sv
      |       FROM q CROSS JOIN spt),
      |c0 AS (SELECT sp, row_number() OVER (PARTITION BY sp ORDER BY id) - 1 AS code,
      |         sv AS cv
      |       FROM sv WHERE id IN (SELECT id FROM q ORDER BY id LIMIT 4)),
      |e1 AS (SELECT sv.id, sv.sp, c0.code,
      |         sum((sv.sv[d+1]-c0.cv[d+1])*(sv.sv[d+1]-c0.cv[d+1])) AS d2
      |       FROM sv JOIN c0 ON sv.sp = c0.sp CROSS JOIN sdt
      |       GROUP BY sv.id, sv.sp, c0.code),
      |a1 AS (SELECT id, sp, code FROM (SELECT id, sp, code,
      |         row_number() OVER (PARTITION BY id, sp ORDER BY d2, code) AS rn FROM e1)
      |       WHERE rn = 1),
      |u1 AS (SELECT a1.sp, a1.code, d,
      |         CAST(floor(CAST(sum(sv.sv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
      |       FROM a1 JOIN sv ON a1.id = sv.id AND a1.sp = sv.sp CROSS JOIN sdt
      |       GROUP BY a1.sp, a1.code, d),
      |c1 AS (SELECT sp, code, list(cv_d ORDER BY d) AS cv FROM u1 GROUP BY sp, code
      |       UNION ALL
      |       SELECT c0.sp, c0.code, c0.cv FROM c0
      |       WHERE NOT EXISTS (SELECT 1 FROM u1
      |                         WHERE u1.sp = c0.sp AND u1.code = c0.code)),
      |e2 AS (SELECT sv.id, sv.sp, c1.code,
      |         sum((sv.sv[d+1]-c1.cv[d+1])*(sv.sv[d+1]-c1.cv[d+1])) AS d2
      |       FROM sv JOIN c1 ON sv.sp = c1.sp CROSS JOIN sdt
      |       GROUP BY sv.id, sv.sp, c1.code),
      |a2 AS (SELECT id, sp, code FROM (SELECT id, sp, code,
      |         row_number() OVER (PARTITION BY id, sp ORDER BY d2, code) AS rn FROM e2)
      |       WHERE rn = 1),
      |""".stripMargin

  /** Shared DuckDB replay of the COARSE quantizer (v11/v12/v14): 1-round
    * 4-cell k-means over the quantized corpus (kmeans discipline:
    * integer d2, (d2, cid) tiebreak, integer-rounded updates, init from
    * the 4 smallest ids, empty cells keep their entry) ending with
    * `c1` = trained centroids and `ac` = the final (id, cid)
    * assignment. */
  private lazy val coarseReplayPrefix: String =
    """WITH q AS (SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |dim AS (SELECT CAST(i AS INT) AS d FROM range(0,64) t(i)),
      |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, qv AS cv
      |       FROM q ORDER BY id LIMIT 4),
      |e1 AS (SELECT q.id, c0.cid,
      |         sum((q.qv[d+1]-c0.cv[d+1])*(q.qv[d+1]-c0.cv[d+1])) AS d2
      |       FROM q CROSS JOIN c0 CROSS JOIN dim GROUP BY q.id, c0.cid),
      |a1 AS (SELECT id, cid FROM (SELECT id, cid,
      |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e1)
      |       WHERE rn = 1),
      |u1 AS (SELECT a1.cid, d,
      |         CAST(floor(CAST(sum(q.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
      |       FROM a1 JOIN q USING (id) CROSS JOIN dim GROUP BY a1.cid, d),
      |c1 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u1 GROUP BY cid
      |       UNION ALL
      |       SELECT c0.cid, c0.cv FROM c0 WHERE c0.cid NOT IN (SELECT cid FROM u1)),
      |e2 AS (SELECT q.id, c1.cid,
      |         sum((q.qv[d+1]-c1.cv[d+1])*(q.qv[d+1]-c1.cv[d+1])) AS d2
      |       FROM q CROSS JOIN c1 CROSS JOIN dim GROUP BY q.id, c1.cid),
      |ac AS (SELECT id, cid FROM (SELECT id, cid,
      |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e2)
      |       WHERE rn = 1),
      |""".stripMargin

  /** Shared DuckDB replay of the IVF-SQ8 serving chain. `extraCand` is
    * spliced into the candidate join (empty for unfiltered serving;
    * v19 passes a label join for the hybrid-search gate). Ends with the
    * `rk` CTE (the per-query code-space ranking) so consumers append
    * their own tail (v14/v18/v19 take the top-5; v22 joins it against
    * the exact-L2 top-5 for the recall census). */
  private def ivfSqRankChain(extraCand: String): String = coarseReplayPrefix +
        s"""px AS (SELECT q.id, d, qv[d+1] AS x FROM q CROSS JOIN dim),
          |grid AS (SELECT d, min(x) AS mn, max(x) AS mx FROM px GROUP BY d),
          |enc AS MATERIALIZED (SELECT px.id, px.d,
          |         CASE WHEN g.mx = g.mn THEN 0
          |              ELSE least(255, ((px.x - g.mn) * 255) // (g.mx - g.mn)) END AS code
          |       FROM px JOIN grid g USING (d)),
          |qq AS (SELECT id, qv FROM q WHERE id % 50 = 0),
          |pe AS (SELECT qq.id, c1.cid,
          |         sum((qq.qv[d+1]-c1.cv[d+1])*(qq.qv[d+1]-c1.cv[d+1])) AS d2
          |       FROM qq CROSS JOIN c1 CROSS JOIN dim GROUP BY qq.id, c1.cid),
          |pb AS (SELECT id AS qid, cid FROM (SELECT id, cid,
          |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM pe)
          |       WHERE rn <= 2),
          |pd AS (SELECT pb.qid, ac.id AS nid,
          |         sum((qe.code - e.code) * (qe.code - e.code)) AS d2c
          |       FROM pb JOIN ac ON ac.cid = pb.cid AND ac.id <> pb.qid
          |       $extraCand
          |       JOIN enc e ON e.id = ac.id
          |       JOIN enc qe ON qe.id = pb.qid AND qe.d = e.d
          |       GROUP BY 1, 2),
          |rk AS (SELECT qid, nid, d2c,
          |         row_number() OVER (PARTITION BY qid ORDER BY d2c, nid) AS rk FROM pd)""".stripMargin

  private def ivfSqOracleBody(extraCand: String): String = ivfSqRankChain(extraCand) +
    """
      |SELECT qid, CAST(rk AS INT) AS rk, nid, CAST(d2c AS BIGINT) AS d2c
      |FROM rk WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** v14 and the v18 persistence round-trip share one oracle —
    * persisted-index serving must be bit-identical to in-memory
    * serving. */
  private lazy val ivfSqOracle: String = ivfSqOracleBody("")

  /** v19: the same chain with the candidate set PRE-filtered to
    * label 3 (hybrid search — the filter restricts candidates before
    * ranking, so every returned neighbor satisfies it). */
  private lazy val ivfSqFilteredOracle: String = ivfSqOracleBody(
    "JOIN (SELECT vec_id AS id, label FROM embeddings) lb ON lb.id = ac.id AND lb.label = 3")

  /** Shared DuckDB replay of the FULL IVF-ADC chain (v11/v12):
    * [[coarseReplayPrefix]]'s coarse k-means + final cell assignment,
    * then residuals, 1-round 4x4 residual codebook, encoding,
    * 2-probe cell ranking per query, per-(query, cell) LUT over the
    * query residual, ADC sums over the probed postings. Ends with
    * `rk` = the per-query (adist, nid) ADC ranking; each consumer
    * appends its own tail (v11 takes the ADC top-5; v12 takes a
    * top-20 shortlist and exact-re-ranks it). */
  private lazy val ivfpqReplayChain: String = coarseReplayPrefix +
    """rv AS (SELECT q.id, ac.cid,
      |         list_transform(range(64), d -> q.qv[d+1] - c1.cv[d+1]) AS qv
      |       FROM q JOIN ac USING (id) JOIN c1 ON ac.cid = c1.cid),
      |spt AS (SELECT CAST(i AS INT) AS sp FROM range(0,4) t(i)),
      |sdt AS (SELECT CAST(i AS INT) AS d FROM range(0,16) t(i)),
      |sv AS (SELECT rv.id, spt.sp,
      |         list_transform(range(16), d -> rv.qv[spt.sp*16 + d + 1]) AS sv
      |       FROM rv CROSS JOIN spt),
      |p0 AS (SELECT sp, row_number() OVER (PARTITION BY sp ORDER BY id) - 1 AS code,
      |         sv AS cv
      |       FROM sv WHERE id IN (SELECT id FROM rv ORDER BY id LIMIT 4)),
      |f1 AS (SELECT sv.id, sv.sp, p0.code,
      |         sum((sv.sv[d+1]-p0.cv[d+1])*(sv.sv[d+1]-p0.cv[d+1])) AS d2
      |       FROM sv JOIN p0 ON sv.sp = p0.sp CROSS JOIN sdt
      |       GROUP BY sv.id, sv.sp, p0.code),
      |g1 AS (SELECT id, sp, code FROM (SELECT id, sp, code,
      |         row_number() OVER (PARTITION BY id, sp ORDER BY d2, code) AS rn FROM f1)
      |       WHERE rn = 1),
      |v1 AS (SELECT g1.sp, g1.code, d,
      |         CAST(floor(CAST(sum(sv.sv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
      |       FROM g1 JOIN sv ON g1.id = sv.id AND g1.sp = sv.sp CROSS JOIN sdt
      |       GROUP BY g1.sp, g1.code, d),
      |p1 AS (SELECT sp, code, list(cv_d ORDER BY d) AS cv FROM v1 GROUP BY sp, code
      |       UNION ALL
      |       SELECT p0.sp, p0.code, p0.cv FROM p0
      |       WHERE NOT EXISTS (SELECT 1 FROM v1
      |                         WHERE v1.sp = p0.sp AND v1.code = p0.code)),
      |f2 AS (SELECT sv.id, sv.sp, p1.code,
      |         sum((sv.sv[d+1]-p1.cv[d+1])*(sv.sv[d+1]-p1.cv[d+1])) AS d2
      |       FROM sv JOIN p1 ON sv.sp = p1.sp CROSS JOIN sdt
      |       GROUP BY sv.id, sv.sp, p1.code),
      |enc AS (SELECT id, sp, code FROM (SELECT id, sp, code,
      |         row_number() OVER (PARTITION BY id, sp ORDER BY d2, code) AS rn FROM f2)
      |       WHERE rn = 1),
      |qq AS (SELECT id, qv FROM q WHERE id % 50 = 0),
      |pe AS (SELECT qq.id, c1.cid,
      |         sum((qq.qv[d+1]-c1.cv[d+1])*(qq.qv[d+1]-c1.cv[d+1])) AS d2
      |       FROM qq CROSS JOIN c1 CROSS JOIN dim GROUP BY qq.id, c1.cid),
      |pb AS (SELECT id AS qid, cid FROM (SELECT id, cid,
      |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM pe)
      |       WHERE rn <= 2),
      |qrs AS (SELECT pb.qid, pb.cid, spt.sp,
      |          list_transform(range(16),
      |            d -> qq.qv[spt.sp*16 + d + 1] - c1.cv[spt.sp*16 + d + 1]) AS sv
      |        FROM pb JOIN qq ON pb.qid = qq.id
      |        JOIN c1 ON pb.cid = c1.cid CROSS JOIN spt),
      |lut AS (SELECT qrs.qid, qrs.cid, p1.sp, p1.code,
      |          sum((qrs.sv[d+1]-p1.cv[d+1])*(qrs.sv[d+1]-p1.cv[d+1])) AS pd
      |        FROM qrs JOIN p1 ON qrs.sp = p1.sp CROSS JOIN sdt
      |        GROUP BY qrs.qid, qrs.cid, p1.sp, p1.code),
      |ad AS (SELECT lut.qid, ac.id AS nid, sum(lut.pd) AS adist
      |       FROM ac JOIN lut ON ac.cid = lut.cid
      |       JOIN enc ON enc.id = ac.id AND enc.sp = lut.sp AND enc.code = lut.code
      |       WHERE ac.id <> lut.qid GROUP BY lut.qid, ac.id),
      |rk AS (SELECT qid, nid, adist,
      |         row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rk
      |       FROM ad)""".stripMargin

  private lazy val bpeTrainOracle8: String = {
    val rounds = (1 to 8).flatMap { r =>
      val prev = s"w${r - 1}"
      val census =
        s"""p$r AS (SELECT u.a AS a, u.b AS b, sum(cnt) AS c
           |  FROM (SELECT cnt, unnest(list_transform(range(len(s)-1),
           |          i -> {'a': s[i+1], 'b': s[i+2]})) AS u
           |        FROM $prev WHERE len(s) >= 2) GROUP BY 1, 2),
           |b$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1)""".stripMargin
      val merge =
        s"""w$r AS (SELECT w, cnt, CASE WHEN len(s) < 2 THEN s ELSE
           |    list_reduce(list_transform(s, x -> [x]),
           |      (acc, x) -> CASE WHEN acc[-1] = m.ma AND x[1] = m.mb
           |                  THEN acc[1:len(acc)-1] || [m.ma || m.mb]
           |                  ELSE acc || x END) END AS s
           |  FROM $prev CROSS JOIN (SELECT a AS ma, b AS mb FROM b$r) m)""".stripMargin
      if (r < 8) Seq(census, merge) else Seq(census)
    }.mkString(",\n")
    val finals = (1 to 8).map(r =>
      s"""SELECT CAST($r AS INT) AS rank, a AS "left", b AS "right", a||b AS merged, CAST(c AS BIGINT) AS c FROM b$r""")
      .mkString("\nUNION ALL ")
    s"""WITH w0 AS (SELECT w, cnt, list_transform(range(len(w)), i -> w[i+1]) AS s
       |  FROM (SELECT w, count(*) AS cnt
       |        FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents) GROUP BY w)),
       |$rounds
       |SELECT * FROM ($finals) ORDER BY rank""".stripMargin
  }

  /** 8-round unrolled WordPiece-training replay — the bpeTrainOracle8
    * skeleton with the argmax swapped to the likelihood-gain score:
    * each round adds a SYMBOL census y$r beside the pair census p$r and
    * picks max ⌊c·10^12 / (c(a)·c(b))⌋ (HUGEINT, (sq desc, a, b) ties),
    * then applies the same greedy list_reduce merge. */
  /** The w0 word census + 8 unrolled WordPiece training rounds (pair
    * census p$r, symbol census y$r, likelihood argmax b$r, greedy merge
    * w$r) — shared by t22/t23 (training replay) and t25 (which derives
    * the learned vocabulary from the b$r winners). */
  private lazy val wordPieceRoundCtes: String = {
    val rounds = (1 to 8).flatMap { r =>
      val prev = s"w${r - 1}"
      val census =
        s"""p$r AS MATERIALIZED (SELECT u.a AS a, u.b AS b, sum(cnt) AS c
           |  FROM (SELECT cnt, unnest(list_transform(range(len(s)-1),
           |          i -> {'a': s[i+1], 'b': s[i+2]})) AS u
           |        FROM $prev WHERE len(s) >= 2) GROUP BY 1, 2),
           |y$r AS MATERIALIZED (SELECT u AS sym, sum(cnt) AS cs
           |  FROM (SELECT cnt, unnest(s) AS u FROM $prev) GROUP BY 1),
           |b$r AS MATERIALIZED (SELECT a, b, c,
           |    (CAST(c AS HUGEINT) * 1000000000000)
           |      // (CAST(sa.cs AS HUGEINT) * sb.cs) AS sq
           |  FROM p$r JOIN y$r sa ON sa.sym = p$r.a
           |  JOIN y$r sb ON sb.sym = p$r.b
           |  ORDER BY sq DESC, a, b LIMIT 1)""".stripMargin
      val merge =
        s"""w$r AS MATERIALIZED (SELECT w, cnt, CASE WHEN len(s) < 2 THEN s ELSE
           |    list_reduce(list_transform(s, x -> [x]),
           |      (acc, x) -> CASE WHEN acc[-1] = m.ma AND x[1] = m.mb
           |                  THEN acc[1:len(acc)-1] || [m.ma || m.mb]
           |                  ELSE acc || x END) END AS s
           |  FROM $prev CROSS JOIN (SELECT a AS ma, b AS mb FROM b$r) m)""".stripMargin
      if (r < 8) Seq(census, merge) else Seq(census)
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (SELECT w, cnt, list_transform(range(len(w)), i -> w[i+1]) AS s
       |  FROM (SELECT w, count(*) AS cnt
       |        FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents) GROUP BY w)),
       |$rounds""".stripMargin
  }

  private lazy val wordPieceOracle8: String = {
    val finals = (1 to 8).map(r =>
      s"""SELECT CAST($r AS INT) AS rank, a AS "left", b AS "right", a||b AS merged, CAST(c AS BIGINT) AS c, CAST(sq AS BIGINT) AS sq FROM b$r""")
      .mkString("\nUNION ALL ")
    s"""WITH $wordPieceRoundCtes
       |SELECT * FROM ($finals) ORDER BY rank""".stripMargin
  }

  /** Max-munch segmentation replay (t25): the trained vocab = the 8
    * b$r winners + single chars past the 1%-of-corpus cutoff (integer
    * cross-multiplication); per (word, pos) the longest matching piece
    * precomputes as `munch`, and a RECURSIVE walk follows the (single-
    * chain) links — a word whose walk dies before len+1 is [UNK]. */
  private lazy val wordPieceSegmentOracle: String = {
    val vocabUnion = (1 to 8).map(r => s"SELECT a||b AS p FROM b$r").mkString(" UNION ")
    s"""WITH RECURSIVE $wordPieceRoundCtes,
       |cc AS (SELECT u AS ch, sum(cnt) AS n
       |       FROM (SELECT cnt, unnest(s) AS u FROM w0) GROUP BY 1),
       |tot AS (SELECT sum(n) AS t FROM cc),
       |vocab AS MATERIALIZED ($vocabUnion
       |  UNION SELECT ch AS p FROM cc, tot WHERE 100 * n >= t),
       |wp AS (SELECT w, unnest(range(1, len(w) + 1)) AS pos FROM w0),
       |munch AS MATERIALIZED (SELECT wp.w, wp.pos, max(length(v.p)) AS step
       |  FROM wp JOIN vocab v ON substr(wp.w, wp.pos, length(v.p)) = v.p
       |  GROUP BY 1, 2),
       |walk(w, pos, n) AS (
       |  SELECT w, 1, 0 FROM w0
       |  UNION ALL
       |  SELECT walk.w, walk.pos + m.step, walk.n + 1
       |  FROM walk JOIN munch m ON m.w = walk.w AND m.pos = walk.pos
       |  WHERE walk.pos <= len(walk.w)),
       |term AS (SELECT w, max(pos) AS endpos, max(n) AS np FROM walk GROUP BY 1),
       |seg AS (SELECT w,
       |  CASE WHEN endpos = len(w) + 1 THEN np ELSE 1 END AS n_pieces,
       |  CASE WHEN endpos = len(w) + 1 THEN 0 ELSE 1 END AS unk FROM term),
       |docw AS (SELECT lang, w FROM
       |  (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) >= 1)
       |SELECT lang, count(*) AS n_words,
       |  CAST(sum(s.n_pieces) AS BIGINT) AS sum_pieces,
       |  CAST(sum(s.unk) AS BIGINT) AS n_unk_words
       |FROM docw JOIN seg s USING (w) GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB replay of one Viterbi-EM unigram-LM training round
    * (t19, Unigram.train with topMulti=12, maxPieceLen=4, iters=1):
    * word census → occurrence-weighted substring seed → add-one
    * micro-nat costs → the per-word Viterbi DP unrolled as 8 position
    * stages (max word length in the fixture; (score, j) tiebreak) →
    * backtracked paths (8 hop stages) → frequency-weighted piece
    * counts → re-estimated costs. The bpeTrainOracle8 generation
    * pattern: built programmatically, stage structure identical to the
    * Scala DP. */
  /** The unrolled Viterbi DP (8 position stages + 8 backtrack hops)
    * under cost table `costTable` (piece, cost), CTE names prefixed
    * with `p` so two DP rounds coexist in one query (t19 trains under
    * k0; t20 additionally TOKENIZES under the trained k1). Returns
    * (ctes, pathsUnion): `pathsUnion` yields one row per (w, piece) on
    * each word's best path. */
  private def viterbiDpCtes(costTable: String, p: String): (String, String) = {
    val L = 4
    def branches(i: Int): Seq[String] =
      (math.max(0, i - L) until i).map { j =>
        if (j == 0)
          s"""      SELECT wf.w AS w, k.cost AS score, 0 AS j
             |      FROM wf JOIN $costTable k ON k.piece = substr(wf.w, 1, $i)
             |      WHERE len(wf.w) >= $i""".stripMargin
        else
          s"""      SELECT q.w, q.score + k.cost AS score, $j AS j
             |      FROM ${p}b$j q JOIN $costTable k ON k.piece = substr(q.w, ${j + 1}, ${i - j})
             |      WHERE len(q.w) >= $i""".stripMargin
      }
    val stages = (1 to 8).map { i =>
      s"""${p}b$i AS MATERIALIZED (SELECT w, score, j FROM (
         |    SELECT c.w, c.score, c.j,
         |      row_number() OVER (PARTITION BY c.w ORDER BY c.score, c.j) AS rn
         |    FROM (
         |${branches(i).mkString("\n      UNION ALL\n")}
         |    ) c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val ball = (1 to 8).map(i => s"SELECT w, $i AS i, j FROM ${p}b$i")
      .mkString("\n  UNION ALL ")
    val hops = (1 to 8).map { h =>
      s"""${p}h$h AS (SELECT e.w, b.j AS nxt, substr(e.w, b.j + 1, e.pos - b.j) AS piece
         |  FROM ${p}e${h - 1} e JOIN ${p}ball b ON b.w = e.w AND b.i = e.pos),
         |${p}e$h AS (SELECT w, nxt AS pos FROM ${p}h$h WHERE nxt > 0)""".stripMargin
    }.mkString(",\n")
    val paths = (1 to 8).map(h => s"SELECT w, piece FROM ${p}h$h")
      .mkString("\n  UNION ALL ")
    val ctes =
      s"""$stages,
         |${p}ball AS MATERIALIZED ($ball),
         |${p}e0 AS (SELECT w, len(w) AS pos FROM wf),
         |$hops""".stripMargin
    (ctes, paths)
  }

  /** Shared training prelude: word census → substring seeding → initial
    * add-one-smoothed costs k0 (Unigram.train's steps 1-2 + the first
    * cost table). */
  private val unigramTrainCtes: String =
    s"""toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |wf AS MATERIALIZED (SELECT w, count(*) AS f FROM toks WHERE len(w) > 0 GROUP BY 1),
       |subs AS MATERIALIZED (SELECT substr(wf.w, p.st, q.l) AS piece, sum(wf.f) AS score
       |  FROM wf
       |  CROSS JOIN (SELECT CAST(unnest(range(1, 9)) AS INT) AS st) p
       |  CROSS JOIN (SELECT CAST(unnest(range(1, 5)) AS INT) AS l) q
       |  WHERE p.st + q.l - 1 <= len(wf.w)
       |  GROUP BY 1),
       |pieces AS MATERIALIZED (SELECT piece FROM subs WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece FROM (SELECT piece, row_number() OVER (ORDER BY score DESC, piece) AS rn
       |                     FROM subs WHERE len(piece) > 1) WHERE rn <= 12),
       |vs AS (SELECT count(*) AS v FROM pieces),
       |c0 AS (SELECT p.piece, s.score AS cnt FROM pieces p JOIN subs s USING (piece)),
       |t0 AS (SELECT sum(cnt) AS t FROM c0),
       |k0 AS MATERIALIZED (SELECT piece,
       |    CAST(floor(-ln(CAST(cnt + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS cost
       |  FROM c0 CROSS JOIN t0 CROSS JOIN vs)""".stripMargin

  private lazy val unigramOracle: String = {
    val (dp, paths) = viterbiDpCtes("k0", "")
    s"""WITH $unigramTrainCtes,
       |$dp,
       |pc AS (SELECT pp.piece, sum(wf.f) AS cnt
       |  FROM ($paths) pp JOIN wf ON wf.w = pp.w GROUP BY 1),
       |fc AS (SELECT p.piece, COALESCE(pc.cnt, 0) AS cnt FROM pieces p LEFT JOIN pc USING (piece)),
       |tf AS (SELECT sum(cnt) AS t FROM fc)
       |SELECT piece, CAST(cnt AS BIGINT) AS cnt,
       |  CAST(floor(-ln(CAST(cnt + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS cost
       |FROM fc CROSS JOIN tf CROSS JOIN vs
       |ORDER BY piece""".stripMargin
  }

  /** t20: train (the t19 chain, E-step under k0 → re-estimated costs
    * k1), then TOKENIZE every document under k1 — a SECOND unrolled DP
    * (prefix `f`) over the word census, piece counts joined back onto
    * the documents. */
  private lazy val unigramTokenizeOracle: String = {
    val (dp0, paths0) = viterbiDpCtes("k0", "")
    val (dp1, paths1) = viterbiDpCtes("k1", "f")
    s"""WITH $unigramTrainCtes,
       |$dp0,
       |pc AS (SELECT pp.piece, sum(wf.f) AS cnt
       |  FROM ($paths0) pp JOIN wf ON wf.w = pp.w GROUP BY 1),
       |fc AS (SELECT p.piece, COALESCE(pc.cnt, 0) AS cnt FROM pieces p LEFT JOIN pc USING (piece)),
       |tf AS (SELECT sum(cnt) AS t FROM fc),
       |k1 AS MATERIALIZED (SELECT piece,
       |    CAST(floor(-ln(CAST(cnt + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS cost
       |  FROM fc CROSS JOIN tf CROSS JOIN vs),
       |$dp1,
       |wpc AS (SELECT w, count(*) AS np FROM ($paths1) pp GROUP BY 1),
       |dtoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |ds AS (SELECT doc_id, sum(wpc.np) AS np
       |  FROM (SELECT doc_id, w FROM dtoks WHERE len(w) > 0) d JOIN wpc USING (w)
       |  GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(ds.np, 0) AS BIGINT) AS n_pieces
       |FROM documents d LEFT JOIN ds USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Exact integer cents/micros: floor(x*scale+0.5) as BIGINT. */
  private def quant(c: Column, scale: Long): Column =
    floor(c * scale.toDouble + 0.5).cast("long")

  /** Stateful streaming operators allocate one state store per shuffle
    * partition; for these finite single-microbatch benchmark streams that
    * fixed cost dominates, so the stream runs with few partitions
    * (results are partitioning-invariant — the correctness gate re-checks
    * that) and the session setting is restored for the batch stages. A
    * real deployment sizes this with state volume instead. */
  private def withStreamPartitions[T](s: SparkSession, n: Int)(body: => T): T =
    withConf(s)("spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Run `body` with the session confs `kvs` set, then put every key back
    * as it was. The restore must tell "explicitly set" from "default":
    * conf.get/getOption return the DEFAULT for a never-set key, so a naive
    * save/restore writes the default back as an explicit session entry
    * (caught by PlanAuditSpec's conf-leak audit). getAll lists only
    * explicit entries, and a key it lacked is unset again. */
  private def withConf[T](s: SparkSession)(kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getAll.get(k) }
    try { kvs.foreach { case (k, v) => s.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** A finite file-backed stream gains nothing from empty microbatches;
    * skipping them shaves fixed per-batch latency off the drain. Also
    * pins the AQE coalescing FLOOR (minPartitionNum = 8) for the
    * stream's micro-batch bodies: r17 retired the session-wide floor
    * for the iterative family's benefit (x28/x42), but the r18 s-family
    * A/B (SCALE.md) showed the streaming trigger bodies were paying for
    * it — AQE coalescing each tiny per-batch stage to 1 partition
    * serializes work that sits INSIDE the per-trigger floor (s13 2.40
    * → 1.91 s, s22 2.42 → 1.83 s with the floor back). Scoping it here
    * — the wrapper exactly the 20 streaming queries drain under — keeps
    * the iterative family on the retired-floor plan. Both settings are
    * scoped by [[withConf]] so nothing leaks into whatever the session
    * runs next. The floor's key is named through SQLConf (Spark 4.1 marks
    * it deprecated), so a Spark that drops it fails the build instead of
    * silently dropping the floor. */
  private def withNoEmptyBatches[T](s: SparkSession)(body: => T): T =
    withConf(s)(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM.key -> "8")(body)

  // ==========================================================================
  // Relational operators (SURVEY §2.2-2.8) over the TPC-H-ish tables
  // ==========================================================================

  private val relational: Seq[Q] = Seq(

    // ----- A8/A4: grouped aggregation with NaN/null-skipping sums (TPC-H Q1 shape)
    Q("q1_agg",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum($"l_quantity").cast("long").as("sum_qty"),
            sum(quant($"l_extendedprice", 100)).as("sum_base_cents"),
            sum(quant($"l_extendedprice", 100) * (lit(10000L) - quant($"l_discount", 10000)))
              .as("sum_disc_micro"),
            count(lit(1)).as("n"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             |  CAST(sum(CAST(floor(l_extendedprice*100+0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
             |  CAST(sum(CAST(floor(l_extendedprice*100+0.5) AS BIGINT)
             |      * (10000 - CAST(floor(l_discount*10000+0.5) AS BIGINT))) AS BIGINT) AS sum_disc_micro,
             |  count(*) AS n
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ----- P1: projection + selective filter (band selection analog)
    Q("p1_projection",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_returnflag".isin("A", "R") && $"l_quantity" >= 30)
          .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
                  $"l_quantity".cast("long").as("qty"))
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag,
             |  CAST(l_quantity AS BIGINT) AS qty
             |FROM lineitem
             |WHERE l_returnflag IN ('A','R') AND l_quantity >= 30
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ----- P2/F1: structured string parse + set-valued predicate (mimetype analog)
    Q("p2_structured_match",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "part")
          .withColumn("brand_num", split($"p_brand", "#").getItem(1).cast("int"))
          .filter($"p_type".isin("ECONOMY", "SMALL") && $"brand_num" % 5 === 0)
          .select($"p_partkey", $"p_brand", $"brand_num", $"p_type")
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, p_brand,
             |  CAST(string_split(p_brand,'#')[2] AS INT) AS brand_num, p_type
             |FROM part
             |WHERE p_type IN ('ECONOMY','SMALL')
             |  AND CAST(string_split(p_brand,'#')[2] AS INT) % 5 = 0
             |ORDER BY p_partkey""".stripMargin)),

    // ----- P4/F5: interval-overlap predicate (spatial bbox pruning analog)
    Q("p4_overlap_prune",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .withColumn("iv_end", $"o_orderdate" + expr("INTERVAL 30 DAYS"))
        o.filter(!($"iv_end" <= lit("1995-03-01").cast("timestamp") ||
                   $"o_orderdate" >= lit("1995-06-30").cast("timestamp")))
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n
             |FROM orders
             |WHERE NOT (o_orderdate + INTERVAL 30 DAY <= TIMESTAMP '1995-03-01 00:00:00'
             |        OR o_orderdate >= TIMESTAMP '1995-06-30 00:00:00')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ----- P6: metadata predicate prunes before the expensive join (pushdown)
    Q("p6_meta_filter",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders").filter($"o_orderpriority" === "1-URGENT")
        val li = t(s, dir, "lineitem")
        o.join(li, $"o_orderkey" === $"l_orderkey")
          .groupBy(date_trunc("month", $"o_orderdate").as("month"))
          .agg(sum(quant($"l_extendedprice", 100)).as("rev_cents"),
               count(lit(1)).as("n"))
          .orderBy($"month")
      },
      Some("""SELECT date_trunc('month', o_orderdate) AS month,
             |  CAST(sum(CAST(floor(l_extendedprice*100+0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
             |  count(*) AS n
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- P7: label-based slicing (time range + key range + band membership)
    Q("p7_label_slice",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .filter($"ts" >= lit("2024-01-05").cast("timestamp") &&
                  $"ts" <  lit("2024-01-12").cast("timestamp") &&
                  $"event_type".isin("click", "view") &&
                  $"user_id".between(10, 500))
          .select($"event_id", $"ts", $"user_id", $"event_type")
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'
             |  AND event_type IN ('click','view') AND user_id BETWEEN 10 AND 500
             |ORDER BY event_id""".stripMargin)),

    // ----- J1/P3: cartesian grid LEFT JOIN with missing cells -> fill (asset table shape)
    Q("j1_grid_leftjoin",
      (s, dir) => {
        import s.implicits._
        val grid = s.range(0, 7).select($"id".as("bucket"))
          .crossJoin(t(s, dir, "events").select($"event_type").distinct())
        val counts = t(s, dir, "events")
          .filter($"value" > 400)
          .groupBy(($"user_id" % 7).as("bucket"), $"event_type")
          .agg(count(lit(1)).as("cnt"))
        grid.join(counts, Seq("bucket", "event_type"), "left")
          .select($"bucket", $"event_type", coalesce($"cnt", lit(0L)).as("n"))
          .orderBy($"bucket", $"event_type")
      },
      Some("""SELECT g.bucket, g.event_type, COALESCE(c.cnt, 0) AS n
             |FROM (SELECT i AS bucket, event_type
             |      FROM range(0,7) t(i) CROSS JOIN (SELECT DISTINCT event_type FROM events)) g
             |LEFT JOIN (SELECT user_id % 7 AS bucket, event_type, count(*) AS cnt
             |           FROM events WHERE value > 400 GROUP BY 1, 2) c
             |USING (bucket, event_type)
             |ORDER BY g.bucket, g.event_type""".stripMargin)),

    // ----- J2: small cross join (chunk-grid product analog)
    Q("j2_cross_small",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "nation").crossJoin(t(s, dir, "region"))
          .select($"n_name", $"r_name")
          .orderBy($"n_name", $"r_name")
      },
      Some("""SELECT n_name, r_name FROM nation CROSS JOIN region
             |ORDER BY n_name, r_name""".stripMargin)),

    // ----- J3: range/interval join against a generated dimension (broadcast theta)
    Q("j3_range_join",
      (s, dir) => {
        import s.implicits._
        val buckets = s.range(0, 10).select(($"id" * 50).cast("double").as("lo"))
        t(s, dir, "events")
          .join(broadcast(buckets), $"value" >= $"lo" && $"value" < $"lo" + 50)
          .groupBy($"lo".cast("long").as("bucket_lo"))
          .agg(count(lit(1)).as("n"), sum(quant($"value", 100)).as("sum_cents"))
          .orderBy($"bucket_lo")
      },
      Some("""SELECT CAST(b.lo AS BIGINT) AS bucket_lo, count(*) AS n,
             |  CAST(sum(CAST(floor(e.value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events e
             |JOIN (SELECT i*50 AS lo FROM range(0,10) t(i)) b
             |  ON e.value >= b.lo AND e.value < b.lo + 50
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- J4: star join through broadcast dims (coordinate join analog)
    Q("j4_star_join",
      (s, dir) => {
        import s.implicits._
        val region = t(s, dir, "region"); val nation = t(s, dir, "nation")
        val customer = t(s, dir, "customer"); val orders = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        li.join(orders, $"l_orderkey" === $"o_orderkey")
          .join(broadcast(customer), $"o_custkey" === $"c_custkey")
          .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
          .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name")
          .agg(sum(quant($"l_extendedprice", 100)).as("rev_cents"),
               count(lit(1)).as("n"))
          .orderBy($"r_name")
      },
      Some("""SELECT r_name,
             |  CAST(sum(CAST(floor(l_extendedprice*100+0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
             |  count(*) AS n
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ----- J5: band-alignment self-join + elementwise algebra (NDVI shape)
    Q("j5_band_align",
      (s, dir) => {
        import s.implicits._
        // Single-pass pivot: conditional sums in ONE shuffle replace the
        // naive two-groupBy + join plan (the J5 self-join collapses into a
        // map-side-combined aggregation; same result, 1/3 the shuffles).
        t(s, dir, "lineitem")
          .filter($"l_returnflag".isin("A", "N"))
          .groupBy($"l_orderkey")
          .agg(sum(when($"l_returnflag" === "A", $"l_quantity")).cast("long").as("qa"),
               sum(when($"l_returnflag" === "N", $"l_quantity")).cast("long").as("qn"))
          .filter($"qa".isNotNull && $"qn".isNotNull)
          .select($"l_orderkey", $"qa", $"qn",
                  (($"qa" - $"qn").cast("double") / ($"qa" + $"qn")).as("ndvi"))
          .orderBy($"l_orderkey")
      },
      Some("""WITH a AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS qa
             |           FROM lineitem WHERE l_returnflag='A' GROUP BY 1),
             |     n AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS qn
             |           FROM lineitem WHERE l_returnflag='N' GROUP BY 1)
             |SELECT a.l_orderkey, qa, qn, CAST(qa - qn AS DOUBLE) / (qa + qn) AS ndvi
             |FROM a JOIN n USING (l_orderkey)
             |ORDER BY a.l_orderkey""".stripMargin)),

    // ----- W2: first-valid along ordered time per key (mosaic as window fn)
    Q("w2_first_valid",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
        t(s, dir, "events")
          .filter($"value".isNotNull)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"user_id", $"event_id".as("last_event"), quant($"value", 100).as("last_cents"))
          .orderBy($"user_id")
      },
      Some("""SELECT user_id, event_id AS last_event,
             |  CAST(floor(value*100+0.5) AS BIGINT) AS last_cents
             |FROM events
             |WHERE value IS NOT NULL
             |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
             |ORDER BY user_id""".stripMargin)),

    // ----- W1-ish: running analytic window (frame spec)
    Q("w1_running_sum",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .filter($"user_id" < 20 && $"value".isNotNull)
          .select($"user_id", $"event_id",
                  sum(quant($"value", 100)).over(w).as("running_cents"))
          .orderBy($"user_id", $"event_id")
      },
      Some("""SELECT user_id, event_id,
             |  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT))
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
             |FROM events WHERE user_id < 20 AND value IS NOT NULL
             |ORDER BY user_id, event_id""".stripMargin)),

    // ----- W3/A8: tumbling calendar window (temporal resample)
    Q("w3_tumbling",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(date_trunc("week", $"ts").as("week"), $"event_type")
          .agg(count(lit(1)).as("n"), sum(quant($"value", 100)).as("sum_cents"))
          .orderBy($"week", $"event_type")
      },
      Some("""SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, event_type, count(*) AS n,
             |  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- A4: min/max envelope fold (bounds union analog)
    Q("a4_minmax",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "supplier")
          .groupBy($"s_nationkey")
          .agg(quant(min($"s_acctbal"), 100).as("min_bal_cents"),
               quant(max($"s_acctbal"), 100).as("max_bal_cents"),
               count(lit(1)).as("n"))
          .orderBy($"s_nationkey")
      },
      Some("""SELECT s_nationkey,
             |  CAST(floor(min(s_acctbal)*100+0.5) AS BIGINT) AS min_bal_cents,
             |  CAST(floor(max(s_acctbal)*100+0.5) AS BIGINT) AS max_bal_cents,
             |  count(*) AS n
             |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // ----- A5/A6: metadata accumulation — constant-vs-varying detection
    Q("a5_allsame",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .groupBy($"source")
          .agg(when(countDistinct($"lang") === 1, max($"lang")).as("lang_const"),
               countDistinct($"lang").as("n_langs"),
               count(lit(1)).as("n_docs"))
          .orderBy($"source")
      },
      Some("""SELECT source,
             |  CASE WHEN count(DISTINCT lang) = 1 THEN max(lang) END AS lang_const,
             |  count(DISTINCT lang) AS n_langs, count(*) AS n_docs
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ----- A7: exact percentiles (viz normalization range)
    Q("a7_percentile",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .filter($"value".isNotNull)
          .groupBy($"event_type")
          .agg(round(expr("percentile(value, 0.02)"), 4).as("p02"),
               round(expr("percentile(value, 0.5)"), 4).as("p50"),
               round(expr("percentile(value, 0.98)"), 4).as("p98"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type,
             |  round(quantile_cont(value, 0.02), 4) AS p02,
             |  round(quantile_cont(value, 0.5), 4) AS p50,
             |  round(quantile_cont(value, 0.98), 4) AS p98
             |FROM events WHERE value IS NOT NULL
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----- A9: rollup grouping sets
    Q("a9_rollup",
      (s, dir) => {
        import s.implicits._
        val df = t(s, dir, "nation")
          .join(t(s, dir, "region"), $"n_regionkey" === $"r_regionkey")
          .join(t(s, dir, "supplier"), $"s_nationkey" === $"n_nationkey")
        df.rollup($"r_name", $"n_name")
          .agg(count(lit(1)).as("n"), quant(sum($"s_acctbal"), 100).as("sum_cents_q"))
          .select(coalesce($"r_name", lit("ALL")).as("region"),
                  coalesce($"n_name", lit("ALL")).as("nation"),
                  $"n", $"sum_cents_q")
          .orderBy($"region", $"nation")
      },
      Some("""SELECT COALESCE(r_name,'ALL') AS region, COALESCE(n_name,'ALL') AS nation,
             |  count(*) AS n,
             |  CAST(floor(sum(s_acctbal)*100+0.5) AS BIGINT) AS sum_cents_q
             |FROM nation
             |JOIN region ON n_regionkey = r_regionkey
             |JOIN supplier ON s_nationkey = n_nationkey
             |GROUP BY ROLLUP(r_name, n_name)
             |ORDER BY region, nation""".stripMargin)),

    // ----- O1/O3: sort + deterministic top-k
    Q("o1_topk",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .orderBy($"c_acctbal".desc, $"c_custkey")
          .limit(100)
          .select($"c_custkey", $"c_name", quant($"c_acctbal", 100).as("bal_cents"))
      },
      Some("""SELECT c_custkey, c_name, CAST(floor(c_acctbal*100+0.5) AS BIGINT) AS bal_cents
             |FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 100""".stripMargin)),

    // ----- O3 variant: per-group top-k via ranking window
    Q("o3_topk_pergroup",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc, $"p_partkey")
        t(s, dir, "part")
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3)
          .select($"p_brand", $"rk", $"p_partkey", quant($"p_retailprice", 100).as("price_cents"))
          .orderBy($"p_brand", $"rk")
      },
      Some("""SELECT p_brand, rk, p_partkey, CAST(floor(p_retailprice*100+0.5) AS BIGINT) AS price_cents
             |FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
             |        ORDER BY p_retailprice DESC, p_partkey) AS rk FROM part)
             |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin)),

    // ----- O4: grouped top-k with BOUNDED state (ops.TopK) — o3's
    // result through the scale plan: the window form shuffles EVERY row
    // to its group's reducer and sorts there (exchange = corpus, one
    // hot group = one task); the typed top-k aggregator keeps k pairs
    // per group per task, so map-side partial aggregation ships
    // ≤ groups×k rows (the KMV bottom-k discipline applied to ranking)
    // and hot groups cost k buffer slots per task. Identical output to
    // o3 — (price DESC, partkey) via a negated integer key — gated by
    // the SAME oracle SQL; TopKSpec asserts the partial-aggregate plan
    // (no Window, no corpus sort).
    Q("o4_topk_bounded",
      (s, dir) => {
        import s.implicits._
        graft.ops.TopK.perGroup(
            t(s, dir, "part").withColumn("neg", -quant($"p_retailprice", 100)),
            groupCols = Seq("p_brand"), sortKey = $"neg", tieKey = $"p_partkey",
            k = 3, keyCol = "neg_price", idCol = "p_partkey")
          .select($"p_brand", $"rk", $"p_partkey",
            (-$"neg_price").as("price_cents"))
          .orderBy($"p_brand", $"rk")
      },
      Some("""SELECT p_brand, rk, p_partkey, CAST(floor(p_retailprice*100+0.5) AS BIGINT) AS price_cents
             |FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
             |        ORDER BY p_retailprice DESC, p_partkey) AS rk FROM part)
             |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin)),

    // ----- U3: set operations
    Q("u3_setops",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        // each side feeds all four set operators below; persist the two
        // small distinct id sets so orders is scanned twice, not 8 times
        // (year() is not a pushable predicate, and Spark does no CSE
        // across the operator branches). The set ops themselves stay real
        // INTERSECT/EXCEPT/UNION plans — that is what U3 gates.
        val c94 = o.filter(year($"o_orderdate") === 1994).select($"o_custkey").distinct().persist()
        val c95 = o.filter(year($"o_orderdate") === 1995).select($"o_custkey").distinct().persist()
        c94.intersect(c95).agg(count(lit(1)).as("n_both"))
          .crossJoin(c94.except(c95).agg(count(lit(1)).as("n_94_only")))
          .crossJoin(c95.except(c94).agg(count(lit(1)).as("n_95_only")))
          .crossJoin(c94.union(c95).distinct().agg(count(lit(1)).as("n_union")))
      },
      Some("""SELECT
             |  (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1994
             |    INTERSECT SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995)) AS n_both,
             |  (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1994
             |    EXCEPT SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995)) AS n_94_only,
             |  (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995
             |    EXCEPT SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1994)) AS n_95_only,
             |  (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) IN (1994,1995))) AS n_union""".stripMargin)),

    // ----- F2: ISO8601 format/parse round trip
    Q("f2_date_roundtrip",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select(to_timestamp(date_format($"ts", "yyyy-MM-dd'T'HH:mm:ss"),
                               "yyyy-MM-dd'T'HH:mm:ss").as("parsed"))
          .groupBy(date_trunc("day", $"parsed").as("day"))
          .agg(count(lit(1)).as("n"))
          .orderBy($"day")
      },
      Some("""SELECT date_trunc('day', strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'),
             |                                  '%Y-%m-%dT%H:%M:%S')) AS day, count(*) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- F3/F4: the UTM/transverse-Mercator coordinate path against
    // GOLDEN vectors — the one operator family DuckDB cannot replay
    // (no sinh/cosh/atanh), so the oracle carries precomputed literal
    // rows instead. The literals come from an INDEPENDENT derivation:
    // scripts/utm_golden.py implements Redfearn's series (NGA TM 8358.2
    // form — meridian arc + expansions in tan/eta^2, no coefficient in
    // common with Proj.scala's Krueger n-series) in 50-digit mpmath, with
    // the inverse obtained by root-finding the forward map rather than
    // any inverse series; the cn_tower row also matches the published
    // meter-precision worked example (630084 E, 4833438 N, zone 17).
    // Both engines agree on every quantized digit with >=0.4 mm margin
    // from the nearest rounding flip. Executing the transform inside a
    // Dataset.map also proves Proj is executor-safe (pure, serializable).
    // Reference: geom_utils.py:42-53 (pyproj Transformer equivalent).
    Q("f3_utm_golden",
      (s, _) => {
        import s.implicits._
        import graft.core.Proj
        val fwd = Seq( // (name, lat, lon, epsg): lon/lat -> E/N in cm
          ("cn_tower", 43.642567, -79.387139, 32617),
          ("statue_lib", 40.689247, -74.044502, 32618),
          ("greenwich", 51.477928, -0.001545, 32630),
          ("sydney_oh", -33.856784, 151.215297, 32756),
          ("cape_town", -33.906249, 18.420397, 32734),
          ("quito_eq", -0.002205, -78.455833, 32717),
          ("tromso_high", 69.649208, 18.955324, 32634),
          ("zone_edge", 35.0, -120.4, 32611))
        val inv = Seq( // (name, E, N, epsg): E/N -> lon/lat in 1e-7 deg
          ("inv_z17_cm", 630084.0, 4833438.0, 32617),
          ("inv_z33_mid", 400000.0, 5000000.0, 32633),
          ("inv_z56_s", 334150.0, 6252310.0, 32756),
          ("inv_z30_low", 700000.0, 100000.0, 32630))
        s.createDataset(fwd).map { case (nm, lat, lon, epsg) =>
          val (e, n) = Proj.transform(4326, epsg, lon, lat)
          (nm, "fwd", math.floor(e * 100 + 0.5).toLong,
            math.floor(n * 100 + 0.5).toLong)
        }.union(s.createDataset(inv).map { case (nm, e, n, epsg) =>
          val (lon, lat) = Proj.transform(epsg, 4326, e, n)
          (nm, "inv", math.floor(lon * 1e7 + 0.5).toLong,
            math.floor(lat * 1e7 + 0.5).toLong)
        }).toDF("name", "dir", "q1", "q2").orderBy($"name")
      },
      Some("""SELECT name, dir, CAST(q1 AS BIGINT) AS q1, CAST(q2 AS BIGINT) AS q2
             |FROM (VALUES
             |  ('cn_tower',    'fwd', 63008430,    483343859),
             |  ('statue_lib',  'fwd', 58073564,    450470038),
             |  ('greenwich',   'fwd', 70821024,    570723865),
             |  ('sydney_oh',   'fwd', 33490026,    625229052),
             |  ('cape_town',   'fwd', 26148720,    624524251),
             |  ('quito_eq',    'fwd', 78319580,    999975604),
             |  ('tromso_high', 'fwd', 42065455,    772808208),
             |  ('zone_edge',   'fwd', 18968160,    387832784),
             |  ('inv_z17_cm',  'inv', -793871429,  436425618),
             |  ('inv_z33_mid', 'inv', 137279670,   451463929),
             |  ('inv_z56_s',   'inv', 1512071939,  -338564907),
             |  ('inv_z30_low', 'inv', -12027248,   9042826))
             |  v(name, dir, q1, q2)
             |ORDER BY name""".stripMargin)),

    // ----- F7/F8 + P8/W1: the GDAL shape rounding, rasterio-style
    // window-from-bounds, and window intersection — the planner's pixel
    // math (`raster_spec.py:42-53` citing gdalwarp_lib.cpp "not quite
    // round"; `to_dask.py:134`'s from_bounds; chunk-window intersect) —
    // oracle-gated as a closed-form SQL replay. The north-up inverse
    // affine reduces to the exact IEEE sequence ia=(-yres)/det,
    // ic=-(ia*minx) that DuckDB reproduces bit-for-bit, so shapes and
    // window offsets hash-match on deliberately awkward inputs:
    // binary-inexact resolutions (0.1, 1/3), half-pixel-boundary extents,
    // negative origins, queries hanging off the grid (negative offsets,
    // unclipped like windowFor), then intersected with the 256-px chunk
    // (0,0) exactly as the scan work-list does. Executed in a Dataset
    // map, so the executor-side math is what's gated.
    Q("f7_gdal_window",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec, Window}
        // (case, minx, maxy, xres, yres, maxx, miny, qminx, qminy, qmaxx, qmaxy)
        val cases = Seq(
          ("exact",     0.0,    1000.0, 10.0, 10.0, 1000.0,  0.0,    120.0,  240.0, 360.0, 480.0),
          ("half_up",   0.0,    1000.0, 10.0, 10.0, 995.1,   0.0,    0.0,    0.0,   995.1, 1000.0),
          ("half_down", 0.0,    1000.0, 10.0, 10.0, 994.9,   0.0,    0.0,    0.0,   994.9, 1000.0),
          ("dec_res",   0.0,    10.01,  0.1,  0.1,  10.01,   0.0,    0.35,   0.35,  9.95,  9.95),
          ("third_res", 0.0,    100.0,  1.0/3, 1.0/3, 100.0, 0.0,    33.4,   33.4,  66.6,  66.6),
          ("neg_orig",  -500.3, 250.7,  2.5,  1.25, -100.3,  -250.3, -444.4, -111.1, -222.2, 123.4),
          ("aniso",     0.0,    512.0,  4.0,  8.0,  1024.0,  0.0,    100.0,  100.0, 900.0, 500.0),
          ("off_grid",  0.0,    1000.0, 10.0, 10.0, 1000.0,  0.0,    -55.5,  -44.4, 1111.1, 1222.2))
        s.createDataset(cases).map { case (cid, minx, maxy, xres, yres, maxx, miny,
                                           qminx, qminy, qmaxx, qmaxy) =>
          val spec = RasterSpec(32633, Bounds(minx, miny, maxx, maxy), xres, yres)
          val (h, w) = spec.shape
          val win = spec.windowFor(Bounds(qminx, qminy, qmaxx, qmaxy))
          val chunk = win.intersect(Window(0, 0, 256, 256))
          (cid, h, w, win.colOff, win.rowOff, win.width, win.height,
            chunk.colOff, chunk.rowOff, chunk.width, chunk.height)
        }.toDF("cid", "h", "w", "col_off", "row_off", "win_w", "win_h",
               "ch_col", "ch_row", "ch_w", "ch_h")
          .orderBy($"cid")
      },
      Some("""WITH c AS (SELECT * FROM (VALUES
             |  ('exact',     0.0,    1000.0, 10.0, 10.0, 1000.0,  0.0,    120.0,  240.0, 360.0, 480.0),
             |  ('half_up',   0.0,    1000.0, 10.0, 10.0, 995.1,   0.0,    0.0,    0.0,   995.1, 1000.0),
             |  ('half_down', 0.0,    1000.0, 10.0, 10.0, 994.9,   0.0,    0.0,    0.0,   994.9, 1000.0),
             |  ('dec_res',   0.0,    10.01,  0.1,  0.1,  10.01,   0.0,    0.35,   0.35,  9.95,  9.95),
             |  ('third_res', 0.0,    100.0,  1.0/3, 1.0/3, 100.0, 0.0,    33.4,   33.4,  66.6,  66.6),
             |  ('neg_orig',  -500.3, 250.7,  2.5,  1.25, -100.3,  -250.3, -444.4, -111.1, -222.2, 123.4),
             |  ('aniso',     0.0,    512.0,  4.0,  8.0,  1024.0,  0.0,    100.0,  100.0, 900.0, 500.0),
             |  ('off_grid',  0.0,    1000.0, 10.0, 10.0, 1000.0,  0.0,    -55.5,  -44.4, 1111.1, 1222.2))
             |  v(cid, minx, maxy, xres, yres, maxx, miny, qminx, qminy, qmaxx, qmaxy)),
             |inv AS (
             |  SELECT *,
             |    (-yres) / (xres * (-yres)) AS ia,
             |    xres / (xres * (-yres)) AS ie,
             |    -(((-yres) / (xres * (-yres))) * minx) AS ic,
             |    -((xres / (xres * (-yres))) * maxy) AS "if"
             |  FROM c),
             |w AS (
             |  SELECT cid,
             |    CAST(floor((maxy - miny + yres/2) / yres) AS INT) AS h,
             |    CAST(floor((maxx - minx + xres/2) / xres) AS INT) AS w,
             |    CAST(floor(ia*qminx + ic + 1e-9) AS INT) AS col_off,
             |    CAST(floor(ie*qmaxy + "if" + 1e-9) AS INT) AS row_off,
             |    CAST(ceil(ia*qmaxx + ic - 1e-9) AS INT) AS col_end,
             |    CAST(ceil(ie*qminy + "if" - 1e-9) AS INT) AS row_end
             |  FROM inv)
             |SELECT cid, h, w, col_off, row_off,
             |  col_end - col_off AS win_w, row_end - row_off AS win_h,
             |  greatest(col_off, 0) AS ch_col, greatest(row_off, 0) AS ch_row,
             |  least(col_end, 256) - greatest(col_off, 0) AS ch_w,
             |  least(row_end, 256) - greatest(row_off, 0) AS ch_h
             |FROM w ORDER BY cid""".stripMargin)),

    // ----- P8/W1: the FULL scan work-list enumeration (TileScan.workList
    // — `to_dask.py:183-189`'s chunk-granular IO elision), oracle-gated
    // end to end: window-from-bounds on awkward grids (f7's IEEE replay),
    // clip to the spec grid, derive the overlapping chunk-index RANGE by
    // division (the O(assets × overlap) trick — never a full-grid sweep),
    // then intersect each chunk rectangle with the asset window. Cases
    // cover multi-chunk fan-out, an off-grid asset clipped to the full
    // grid, a null-url asset (P3 elision: contributes NO rows), a
    // non-overlapping asset (empty window: no rows), non-divisible
    // rectangular chunks (7×5 over a 100-grid), binary-inexact 0.1
    // resolution, and anisotropic resolution with negative origins.
    // Executed in a Dataset flatMap so the executor-side math is gated.
    Q("p9_worklist_windows",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.scan.{AssetRow, PlannedRead, TileScan}
        val cases = Seq(
          ("grid10",    0.0,    1000.0, 10.0, 10.0, 1000.0, 0.0,    32, 32),
          ("dec",       0.0,    10.01,  0.1,  0.1,  10.01,  0.0,     7,  5),
          ("aniso_neg", -500.3, 250.7,  2.5,  1.25, -100.3, -250.3, 64, 64))
        val assetsByCase = Map(
          "grid10" -> Seq(
            (0, true,  120.0,  240.0,  360.0,  480.0),   // 2x2 chunk fan-out
            (1, true,  -55.5,  -44.4,  1111.1, 1222.2),  // off-grid: clips to all 16
            (2, false, 100.0,  100.0,  200.0,  200.0),   // null url: elided
            (3, true,  2000.0, 2000.0, 3000.0, 3000.0)), // disjoint: empty window
          "dec" -> Seq(
            (0, true, 0.35, 0.35, 9.95, 9.95),
            (1, true, 0.0,  0.0,  0.1,  0.1)),           // single-pixel corner
          "aniso_neg" -> Seq(
            (0, true, -444.4, -111.1, -222.2, 123.4)))
        s.createDataset(cases).flatMap {
          case (cid, minx, maxy, xres, yres, maxx, miny, chy, chx) =>
            val spec = RasterSpec(32633, Bounds(minx, miny, maxx, maxy), xres, yres)
            val rows = assetsByCase(cid).map { case (ai, hasUrl, bx0, by0, bx1, by1) =>
              AssetRow(ai, ai, "b", 0L, if (hasUrl) s"fake://$cid/$ai" else null,
                bx0, by0, bx1, by1, 1.0, 0.0)
            }
            TileScan.workList(rows, spec, chy, chx).map { case PlannedRead(ar, yc, xc, win) =>
              (cid, ar.itemIdx, yc, xc, win.colOff, win.rowOff, win.width, win.height)
            }
        }.toDF("cid", "aidx", "yc", "xc", "col_off", "row_off", "win_w", "win_h")
          .orderBy($"cid", $"aidx", $"yc", $"xc")
      },
      Some("""WITH c AS (SELECT * FROM (VALUES
             |  ('grid10',    0.0,    1000.0, 10.0, 10.0, 1000.0, 0.0,    32, 32),
             |  ('dec',       0.0,    10.01,  0.1,  0.1,  10.01,  0.0,     7,  5),
             |  ('aniso_neg', -500.3, 250.7,  2.5,  1.25, -100.3, -250.3, 64, 64))
             |  v(cid, minx, maxy, xres, yres, maxx, miny, chy, chx)),
             |asts AS (SELECT * FROM (VALUES
             |  ('grid10', 0, 120.0,  240.0,  360.0,  480.0),
             |  ('grid10', 1, -55.5,  -44.4,  1111.1, 1222.2),
             |  ('grid10', 3, 2000.0, 2000.0, 3000.0, 3000.0),
             |  ('dec',    0, 0.35,   0.35,   9.95,   9.95),
             |  ('dec',    1, 0.0,    0.0,    0.1,    0.1),
             |  ('aniso_neg', 0, -444.4, -111.1, -222.2, 123.4))
             |  u(cid, aidx, qminx, qminy, qmaxx, qmaxy)),
             |inv AS (
             |  SELECT c.cid AS cid, aidx, qminx, qminy, qmaxx, qmaxy, chy, chx,
             |    CAST(floor((maxy - miny + yres/2) / yres) AS INT) AS gh,
             |    CAST(floor((maxx - minx + xres/2) / xres) AS INT) AS gw,
             |    (-yres) / (xres * (-yres)) AS ia,
             |    xres / (xres * (-yres)) AS ie,
             |    -(((-yres) / (xres * (-yres))) * minx) AS ic,
             |    -((xres / (xres * (-yres))) * maxy) AS "if"
             |  FROM c JOIN asts ON c.cid = asts.cid),
             |win AS (
             |  SELECT cid, aidx, chy, chx,
             |    greatest(CAST(floor(ia*qminx + ic + 1e-9) AS INT), 0) AS c0,
             |    greatest(CAST(floor(ie*qmaxy + "if" + 1e-9) AS INT), 0) AS r0,
             |    least(CAST(ceil(ia*qmaxx + ic - 1e-9) AS INT), gw) AS c1,
             |    least(CAST(ceil(ie*qminy + "if" - 1e-9) AS INT), gh) AS r1
             |  FROM inv),
             |ys AS (SELECT *, CAST(unnest(range(r0//chy, (r1-1)//chy + 1)) AS INT) AS yc
             |       FROM win WHERE c1 > c0 AND r1 > r0),
             |xs AS (SELECT *, CAST(unnest(range(c0//chx, (c1-1)//chx + 1)) AS INT) AS xc
             |       FROM ys)
             |SELECT cid, aidx, yc, xc,
             |  greatest(c0, xc*chx) AS col_off,
             |  greatest(r0, yc*chy) AS row_off,
             |  least(c1, (xc+1)*chx) - greatest(c0, xc*chx) AS win_w,
             |  least(r1, (yc+1)*chy) - greatest(r0, yc*chy) AS win_h
             |FROM xs ORDER BY cid, aidx, yc, xc""".stripMargin)),

    // ----- F6: snap-to-resolution grid math
    Q("f6_snap",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "part")
          .groupBy((floor($"p_retailprice" / 10) * 10).cast("long").as("snap_lo"))
          .agg(count(lit(1)).as("n"), quant(min($"p_retailprice"), 100).as("min_cents"))
          .orderBy($"snap_lo")
      },
      Some("""SELECT CAST(floor(p_retailprice/10)*10 AS BIGINT) AS snap_lo,
             |  count(*) AS n,
             |  CAST(floor(min(p_retailprice)*100+0.5) AS BIGINT) AS min_cents
             |FROM part GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- F9: rescale x*scale+offset, elided-identity semantics
    Q("f9_rescale",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(sum(floor(($"l_quantity" * 2.5 + 10.0) * 10 + 0.5).cast("long")).as("sum_rescaled_decis"),
               count(lit(1)).as("n"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  CAST(sum(CAST(floor((l_quantity*2.5 + 10.0)*10 + 0.5) AS BIGINT)) AS BIGINT) AS sum_rescaled_decis,
             |  count(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- F20: JSON field access
    Q("f20_json",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select(get_json_object($"props", "$.k").cast("int").as("k"))
          .groupBy(($"k" % 10).as("k_mod"))
          .agg(count(lit(1)).as("n"))
          .orderBy($"k_mod")
      },
      Some("""SELECT CAST(props->>'$.k' AS INT) % 10 AS k_mod, count(*) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  // ==========================================================================
  // Text analysis + deduplication (training-data pipeline operators)
  // ==========================================================================

  /** Quantized int vector: round(x*1e4) as BIGINT per element — makes dot
    * products exact integer sums, order-free and engine-portable. */
  private def qvec(c: Column): Column =
    transform(c, x => round(x.cast("double") * 10000).cast("long"))
  private def dotq(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_long(a, b)
  private def cosq(qa: Column, qb: Column, na: Column, nb: Column): Column =
    round(dotq(qa, qb).cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))), 6)

  /** 5-round unrolled MMR greedy replay (v21): relevance ranking → the
    * 12-row shortlist → pairwise sims → per round, the (rel − maxSim
    * over selected) argmax with (score desc, id) ties — the engine's
    * driver loop as chained CTEs. */
  private lazy val mmrOracle5: String = {
    val rounds = (2 to 5).map { r =>
      val prev = s"sel${r - 1}"
      s"""cand$r AS (SELECT c.id, c.rel, max(s.s) AS ms
         |  FROM short c JOIN sim s ON s.ia = c.id JOIN $prev t ON s.ib = t.id
         |  WHERE c.id NOT IN (SELECT id FROM $prev) GROUP BY c.id, c.rel),
         |p$r AS (SELECT $r AS rk, id, rel, rel - ms AS score FROM cand$r
         |        ORDER BY score DESC, id LIMIT 1),
         |sel$r AS (SELECT id FROM $prev UNION ALL SELECT id FROM p$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH qq AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |nn AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM qq),
       |relt AS (SELECT b.vec_id AS id, b.qv AS v,
       |    round(list_sum(list_transform(list_zip(a.qv,b.qv), z -> z[1]*z[2]))::DOUBLE
       |          / (sqrt(a.nq::DOUBLE)*sqrt(b.nq::DOUBLE)), 6) AS rel
       |  FROM nn a, nn b WHERE a.vec_id = 0 AND b.vec_id != 0),
       |short AS (SELECT id, v, rel FROM (SELECT id, v, rel,
       |    row_number() OVER (ORDER BY rel DESC, id) AS rk FROM relt) WHERE rk <= 12),
       |sim AS (SELECT a.id AS ia, b.id AS ib,
       |    round(list_sum(list_transform(list_zip(a.v,b.v), z -> z[1]*z[2]))::DOUBLE
       |          / (sqrt(list_sum(list_transform(a.v, x->x*x))::DOUBLE)
       |             * sqrt(list_sum(list_transform(b.v, x->x*x))::DOUBLE)), 6) AS s
       |  FROM short a, short b WHERE a.id != b.id),
       |p1 AS (SELECT 1 AS rk, id, rel, rel AS score FROM short ORDER BY score DESC, id LIMIT 1),
       |sel1 AS (SELECT id FROM p1),
       |$rounds
       |SELECT CAST(rk AS INT) AS rk, id, rel, score AS mmr FROM
       |  (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
       |   UNION ALL SELECT * FROM p4 UNION ALL SELECT * FROM p5)
       |ORDER BY rk""".stripMargin
  }

  private val textDedup: Seq[Q] = Seq(

    // ----- T1: token counting + basic text stats
    Q("t1_text_stats",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"lang", $"n_chars",
                  size(split($"text", " ")).as("ntok"),
                  size(array_distinct(split($"text", " "))).as("ndist"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("sum_tokens"),
               sum($"ndist").as("sum_distinct"), sum($"n_chars").as("sum_chars"))
          .orderBy($"lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS sum_tokens,
             |  CAST(sum(len(list_distinct(string_split(text,' ')))) AS BIGINT) AS sum_distinct,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ----- T2: language-ID heuristic (stopword-frequency argmax, fixed tiebreak)
    Q("t2_langid",
      (s, dir) => {
        import s.implicits._
        val en = Seq("the", "a", "of", "and", "is")
        val es = Seq("el", "la", "de", "y", "es")
        val de = Seq("der", "die", "und", "das")
        val fr = Seq("le", "et", "les", "un")
        def score(set: Seq[String]) =
          size(filter(split($"text", " "), tok => tok.isInCollection(set)))
        t(s, dir, "documents")
          .withColumn("s_en", score(en)).withColumn("s_es", score(es))
          .withColumn("s_de", score(de)).withColumn("s_fr", score(fr))
          .withColumn("lang_pred",
            when($"s_en" + $"s_es" + $"s_de" + $"s_fr" === 0, "und")
              .when($"s_en" >= $"s_es" && $"s_en" >= $"s_de" && $"s_en" >= $"s_fr", "en")
              .when($"s_es" >= $"s_de" && $"s_es" >= $"s_fr", "es")
              .when($"s_de" >= $"s_fr", "de")
              .otherwise("fr"))
          .groupBy($"lang_pred").agg(count(lit(1)).as("n"))
          .orderBy($"lang_pred")
      },
      Some("""WITH scored AS (
             |  SELECT len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','is'))) AS s_en,
             |         len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','y','es'))) AS s_es,
             |         len(list_filter(string_split(text,' '), t -> t IN ('der','die','und','das'))) AS s_de,
             |         len(list_filter(string_split(text,' '), t -> t IN ('le','et','les','un'))) AS s_fr
             |  FROM documents)
             |SELECT CASE WHEN s_en+s_es+s_de+s_fr = 0 THEN 'und'
             |            WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
             |            WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
             |            WHEN s_de >= s_fr THEN 'de'
             |            ELSE 'fr' END AS lang_pred, count(*) AS n
             |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T3: quality scoring (length/diversity mix) histogram
    Q("t3_quality",
      (s, dir) => {
        import s.implicits._
        val ntok = size(split($"text", " ")).cast("double")
        val ndist = size(array_distinct(split($"text", " "))).cast("double")
        val quality = lit(0.4) * least($"n_chars" / 400.0, lit(1.0)) +
          lit(0.3) * least(ntok / 80.0, lit(1.0)) + lit(0.3) * (ndist / ntok)
        t(s, dir, "documents")
          .select(floor(quality * 10).cast("long").as("q_bucket"))
          .groupBy($"q_bucket").agg(count(lit(1)).as("n"))
          .orderBy($"q_bucket")
      },
      Some("""SELECT CAST(floor((0.4*least(n_chars/400.0, 1.0)
             |  + 0.3*least(len(string_split(text,' '))/80.0, 1.0)
             |  + 0.3*(len(list_distinct(string_split(text,' ')))::DOUBLE
             |         / len(string_split(text,' '))))*10) AS BIGINT) AS q_bucket,
             |  count(*) AS n
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T4: document fingerprinting (canonical sorted-distinct-token md5)
    Q("t4_fingerprint",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id",
            md5(array_join(array_sort(array_distinct(split($"text", " "))), " ")).as("fp"))
          .groupBy($"fp")
          .agg(count(lit(1)).as("n"), min($"doc_id").as("canonical"))
          .filter($"n" > 1)
          .orderBy($"fp")
      },
      Some("""SELECT fp, count(*) AS n, min(doc_id) AS canonical
             |FROM (SELECT doc_id,
             |        md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp
             |      FROM documents)
             |GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin)),

    // ----- T5: document-frequency / IDF table (the tf-idf building block;
    // integer-only outputs keep it engine-exact). Ranked by total
    // occurrences with deterministic tiebreaks.
    Q("t5_docfreq",
      (s, dir) => {
        import s.implicits._
        val toks = t(s, dir, "documents").select($"doc_id",
          explode(split($"text", " ")).as("tok"))
        val stats = toks.groupBy($"tok")
          .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("occurrences"))
        // Top-k FIRST (TakeOrderedAndProject: per-partition partial top-30,
        // merged on the driver) so the rank window — necessarily global —
        // only ever sees 30 rows. A bare global row_number() here would
        // funnel the whole vocabulary through one partition at scale.
        val w = Window.orderBy($"occurrences".desc, $"tok")
        stats.orderBy($"occurrences".desc, $"tok").limit(30)
          .withColumn("rk", row_number().over(w))
          .select($"rk", $"tok", $"df", $"occurrences")
      },
      Some("""SELECT rk, tok, df, occurrences FROM (
             |  SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS occurrences,
             |    row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
             |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
             |  GROUP BY tok)
             |WHERE rk <= 30 ORDER BY rk""".stripMargin)),

    // ----- D1: exact dedup via content hash
    Q("d1_exact_dedup",
      (s, dir) => {
        import s.implicits._
        val hashed = t(s, dir, "documents").select($"doc_id", md5($"text").as("h"))
        hashed.agg(count(lit(1)).as("n_docs"),
                   countDistinct($"h").as("n_unique"))
          .crossJoin(
            hashed.groupBy($"h").agg(count(lit(1)).as("c"))
              .filter($"c" > 1).agg(count(lit(1)).as("n_dup_groups")))
      },
      Some("""SELECT (SELECT count(*) FROM documents) AS n_docs,
             |  (SELECT count(DISTINCT md5(text)) FROM documents) AS n_unique,
             |  (SELECT count(*) FROM (SELECT md5(text) h, count(*) c FROM documents
             |    GROUP BY 1 HAVING count(*) > 1)) AS n_dup_groups""".stripMargin)),

    // ----- D2: MinHash + LSH banding near-dup detection
    // 8 md5-minhashes over distinct tokens, 2 bands x 4 rows, verify >= 0.95
    // (lexicographic min of md5(seed|token) is a valid minhash family and is
    //  byte-identical across engines).
    Q("d2_minhash_lsh",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val toks = docs.select($"doc_id",
          explode(array_distinct(split($"text", " "))).as("tok"))
        val sigCols = (0 until 8).map(i => min(md5(concat(lit(s"$i|"), $"tok"))).as(s"h$i"))
        // The signature table is the expensive subtree (corpus scan +
        // token-explode shuffle) and is referenced by every stage below;
        // Spark performs NO common-subexpression elimination across those
        // branches (measured: 22 parquet scans / 12 signature aggregations
        // in this query's plan before persisting — ReusedExchange never
        // fired across the union/self-join branches). Persist it once:
        // it is O(n_docs × 8 hashes), the smallest table in the pipeline.
        val sig = toks.groupBy($"doc_id").agg(sigCols.head, sigCols.tail: _*).persist()
        // one pass for both band keys (posexplode), not a union that
        // re-evaluates sig per band
        val bands = sig.select($"doc_id", posexplode(array(
            md5(concat($"h0", $"h1", $"h2", $"h3")),
            md5(concat($"h4", $"h5", $"h6", $"h7")))).as(Seq("band", "key")))
        // The band table is broadcast-sized, so this self-join is a
        // BroadcastHashJoin: the quadratic pair generation of a skewed
        // bucket is spread across the stream-side input partitions (each
        // doc row of the big bucket lives in a different partition), so no
        // reducer-side skew exists. (Measured: explicit block-split
        // salting only added overhead.)
        val a = bands.as("a"); val b = bands.as("b")
        // No distinct() here: deduping candidates would shuffle the full
        // multi-million-row pair stream. Pairs colliding in BOTH bands (only
        // true near-dups, a tiny fraction) get verified twice — far cheaper
        // than exchanging every candidate — and the post-filter distinct on
        // the few surviving rows restores set semantics.
        val cand = a.join(b,
            $"a.band" === $"b.band" && $"a.key" === $"b.key" &&
            $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
        // Verify-join over 64-bit token hashes: candidate rows then carry
        // primitive long arrays (memcpy-cheap) instead of UTF8 string
        // arrays, and the jaccard kernel is a codegen'd merge over longs.
        // The hash (first 60 bits of md5) is reproduced verbatim in the
        // oracle SQL, so both engines compute jaccard over the identical
        // hashed sets.
        val sets = docs.select($"doc_id",
          array_sort(array_distinct(transform(split($"text", " "),
            tok => conv(substring(md5(tok), 1, 15), 16, 10).cast("long")))).as("st"))
        // 100 TB shape: `sets` is O(corpus tokens) — the one table that must
        // never be broadcast. The candidate ids (tiny after banding) semi-join
        // `sets` down to just the docs appearing in some candidate pair; only
        // the pruned sets flow into the verify joins, and AQE is left free to
        // broadcast a side iff it actually fits. Candidate ids come from
        // hot-bucket membership (a bucket with >= 2 docs pairs every member)
        // — a groupBy over the cached sig — so the quadratic pair stream
        // `cand` is evaluated exactly ONCE, in the verify join below, and
        // never materialized or replayed for the id set.
        val hot = bands.groupBy($"band", $"key")
          .agg(count(lit(1)).as("nb")).filter($"nb" > 1).drop("nb")
        val candIds = bands.join(hot, Seq("band", "key"), "left_semi")
          .select($"doc_id").distinct()
        val candSets = sets.join(candIds, Seq("doc_id"), "left_semi")
        val j = graft.functions.GraftFunctions.sorted_jaccard_long($"sa.st", $"sb.st")
        cand
          .join(candSets.as("sa"), $"id_a" === $"sa.doc_id")
          .join(candSets.as("sb"), $"id_b" === $"sb.doc_id")
          .filter(j >= 0.95)
          .select($"id_a", $"id_b", round(j, 6).as("jaccard"))
          .distinct()
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
             |sig AS (
             |  SELECT doc_id,
             |    min(md5('0|'||tok)) AS h0, min(md5('1|'||tok)) AS h1,
             |    min(md5('2|'||tok)) AS h2, min(md5('3|'||tok)) AS h3,
             |    min(md5('4|'||tok)) AS h4, min(md5('5|'||tok)) AS h5,
             |    min(md5('6|'||tok)) AS h6, min(md5('7|'||tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0||h1||h2||h3) AS key FROM sig UNION ALL
             |  SELECT doc_id, 1, md5(h4||h5||h6||h7) FROM sig),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
             |sets AS (SELECT doc_id, list_distinct(list_transform(string_split(text,' '),
             |           tok -> ('0x'||substr(md5(tok),1,15))::BIGINT)) AS st FROM documents)
             |SELECT id_a, id_b,
             |  round(len(list_intersect(sa.st, sb.st))::DOUBLE
             |        / len(list_distinct(sa.st || sb.st)), 6) AS jaccard
             |FROM cand JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
             |WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |      / len(list_distinct(sa.st || sb.st)) >= 0.95
             |ORDER BY id_a, id_b""".stripMargin)),

    // ----- D3: SimHash (16-bit, over distinct tokens, md5-derived bits)
    Q("d3_simhash",
      (s, dir) => {
        import s.implicits._
        val toks = t(s, dir, "documents").select($"doc_id",
          explode(array_distinct(split($"text", " "))).as("tok"))
          .withColumn("h", conv(substring(md5($"tok"), 1, 4), 16, 10).cast("int"))
        val sumCols = (0 until 16).map(j =>
          sum(when((shiftright($"h", j) % 2) === 1, 1).otherwise(-1)).as(s"s$j"))
        val sums = toks.groupBy($"doc_id").agg(sumCols.head, sumCols.tail: _*)
        val simhash = (0 until 16).map(j =>
          when(col(s"s$j") > 0, 1L << j).otherwise(0L)).reduce(_ + _)
        sums.select($"doc_id", simhash.as("simhash"))
          .filter($"doc_id" < 100)
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
             |bits AS (SELECT doc_id, ('0x'||substr(md5(tok),1,4))::INT AS h FROM toks),
             |sums AS (SELECT doc_id,
             |""".stripMargin +
           (0 until 16).map(j =>
             s"    sum(CASE WHEN (h // ${1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
             .mkString(",\n") +
           "\n  FROM bits GROUP BY doc_id)\nSELECT doc_id,\n  " +
           (0 until 16).map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
             .mkString(" + ") +
           " AS simhash\nFROM sums WHERE doc_id < 100 ORDER BY doc_id")),

    // ----- D4: n-gram (word bigram) Jaccard near-dup, brute-force on a slice
    Q("d4_ngram_jaccard",
      (s, dir) => {
        import s.implicits._
        val grams = t(s, dir, "documents").filter($"doc_id" < 200)
          .select($"doc_id", split($"text", " ").as("s"))
          .select($"doc_id", array_sort(array_distinct(
            transform(sequence(lit(0), size($"s") - 2),
              i => concat(element_at($"s", i + 1), lit(" "), element_at($"s", i + 2))))).as("gs"))
        val j = graft.functions.GraftFunctions.sorted_jaccard($"a.gs", $"b.gs")
        grams.as("a").join(grams.as("b"), $"a.doc_id" < $"b.doc_id")
          .filter(j >= 0.10)
          .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"), round(j, 6).as("jaccard"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH g AS (
             |  SELECT doc_id, list_distinct(list_transform(range(len(s)-1),
             |           i -> s[i+1] || ' ' || s[i+2])) AS gs
             |  FROM (SELECT doc_id, string_split(text,' ') AS s FROM documents WHERE doc_id < 200))
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(len(list_intersect(a.gs, b.gs))::DOUBLE
             |        / len(list_distinct(a.gs || b.gs)), 6) AS jaccard
             |FROM g a JOIN g b ON a.doc_id < b.doc_id
             |WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
             |      / len(list_distinct(a.gs || b.gs)) >= 0.10
             |ORDER BY id_a, id_b""".stripMargin)),

    // ----- D5: embedding-cosine near-dup — LSH-blocked, the 100 TB shape.
    // Blocking stage: sign-random-hyperplane LSH *banding* (8 bands x 4
    // planes, same deterministic md5-parity planes as v2/v3) — candidates
    // come from an equi-join on (band, bucket), never an all-pairs
    // cartesian. Verify stage: exact quantized cosine >= 0.45 on the
    // distinct candidates. Recall for pairs at the threshold is
    // 1-(1-p^4)^8 with p = 1-acos(cos)/pi (~0.8 at 0.45, higher for closer
    // pairs); the oracle replays the identical blocking, so the gate checks
    // the blocked semantics exactly. v1_knn_brute remains the exactness
    // baseline; candidate volume here is n^2/2^4 per band worst-case but
    // each band join is a plain shuffle equi-join a 1000-executor run
    // spreads by bucket — no BroadcastNestedLoopJoin anywhere.
    Q("d5_embedding_dup",
      (s, dir) => {
        import s.implicits._
        val planes: Seq[Seq[Long]] = Queries.lshPlanes(32, 64)
        // quantized vectors feed the band builder AND both verify sides —
        // persist once (no CSE across branches; the d2 discipline)
        val v = t(s, dir, "embeddings")
          .select($"vec_id", qvec($"embedding").as("qv"))
          .withColumn("nq", dotq($"qv", $"qv"))
          .persist()
        val bandCols = (0 until 8).map { band =>
          val bucket = (0 until 4).map { r =>
            when(graft.functions.GraftFunctions.dot_long(
                   $"qv", typedLit(planes(band * 4 + r))) > 0, 1L << r)
              .otherwise(0L)
          }.reduce(_ + _)
          struct(lit(band).as("band"), bucket.as("bucket"))
        }
        val bands = v.select($"vec_id", explode(array(bandCols: _*)).as("bb"))
          .select($"vec_id", $"bb.band".as("band"), $"bb.bucket".as("bucket"))
        val cand = bands.as("a").join(bands.as("b"),
            $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
            $"a.vec_id" < $"b.vec_id")
          .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b")).distinct()
        cand.join(v.as("a"), $"id_a" === $"a.vec_id")
          .join(v.as("b"), $"id_b" === $"b.vec_id")
          .select($"id_a", $"id_b",
                  cosq($"a.qv", $"b.qv", $"a.nq", $"b.nq").as("cos"))
          .filter($"cos" >= 0.45)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH planes AS (
             |  SELECT j, i,
             |    CASE WHEN ('0x'||substr(md5(j||'_'||i),1,2))::INT % 2 = 0 THEN 1 ELSE -1 END AS sgn
             |  FROM range(0,32) t(j) CROSS JOIN range(0,64) u(i)),
             |comps AS (
             |  SELECT vec_id, i, CAST(round(CAST(embedding[i+1] AS DOUBLE)*10000) AS BIGINT) AS c
             |  FROM embeddings CROSS JOIN range(0,64) u(i)),
             |proj AS (
             |  SELECT vec_id, j, sum(c * sgn) AS p
             |  FROM comps JOIN planes USING (i) GROUP BY vec_id, j),
             |bands AS (
             |  SELECT vec_id, j // 4 AS band,
             |    sum(CASE WHEN p > 0 THEN 1 << (j % 4) ELSE 0 END) AS bucket
             |  FROM proj GROUP BY vec_id, j // 4),
             |cand AS (
             |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
             |q AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |n AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM q)
             |SELECT id_a, id_b,
             |  round(list_sum(list_transform(list_zip(na.qv,nb.qv), s -> s[1]*s[2]))::DOUBLE
             |        / (sqrt(na.nq::DOUBLE) * sqrt(nb.nq::DOUBLE)), 6) AS cos
             |FROM cand JOIN n na ON id_a = na.vec_id JOIN n nb ON id_b = nb.vec_id
             |WHERE round(list_sum(list_transform(list_zip(na.qv,nb.qv), s -> s[1]*s[2]))::DOUBLE
             |        / (sqrt(na.nq::DOUBLE) * sqrt(nb.nq::DOUBLE)), 6) >= 0.45
             |ORDER BY id_a, id_b""".stripMargin))
  )

  // ==========================================================================
  // Similarity search (ANN) over embeddings
  // ==========================================================================

  private val vector: Seq[Q] = Seq(

    // ----- V1: brute-force cosine top-k (the exactness baseline)
    Q("v1_knn_brute",
      (s, dir) => {
        import s.implicits._
        val v = t(s, dir, "embeddings")
          .select($"vec_id", qvec($"embedding").as("qv"))
          .withColumn("nq", dotq($"qv", $"qv"))
        val q = v.filter($"vec_id" < 5)
        val pairs = broadcast(q.as("a")).join(v.as("b"), $"a.vec_id" =!= $"b.vec_id")
          .select($"a.vec_id".as("qid"), $"b.vec_id".as("nid"),
                  cosq($"a.qv", $"b.qv", $"a.nq", $"b.nq").as("cos"))
        val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
        pairs.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
          .select($"qid", $"rk", $"nid", $"cos")
          .orderBy($"qid", $"rk")
      },
      Some("""WITH q AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |n AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM q),
             |pairs AS (
             |  SELECT a.vec_id AS qid, b.vec_id AS nid,
             |    round(list_sum(list_transform(list_zip(a.qv,b.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(a.nq::DOUBLE) * sqrt(b.nq::DOUBLE)), 6) AS cos
             |  FROM n a, n b WHERE a.vec_id < 5 AND b.vec_id != a.vec_id)
             |SELECT qid, rk, nid, cos FROM (
             |  SELECT qid, nid, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
             |  FROM pairs)
             |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),

    // ----- V2: sign-random-hyperplane LSH bucketing (the scale path's
    // coarse quantizer). Hyperplane signs come from md5 parity, so both
    // engines derive the identical deterministic hyperplanes; projections
    // are exact integer sums of quantized components.
    Q("v2_lsh_buckets",
      (s, dir) => {
        import s.implicits._
        val planes: Seq[Seq[Long]] = Queries.lshPlanes(8, 64)
        val v = t(s, dir, "embeddings").select($"vec_id", qvec($"embedding").as("qv"))
        val bucket = (0 until 8).map { j =>
          val pl = typedLit(planes(j))
          when(graft.functions.GraftFunctions.dot_long($"qv", pl) > 0, 1L << j)
            .otherwise(0L)
        }.reduce(_ + _)
        v.select($"vec_id", bucket.as("bucket"))
          .groupBy($"bucket").agg(count(lit(1)).as("n"))
          .orderBy($"bucket")
      },
      Some("""WITH planes AS (
             |  SELECT j, i,
             |    CASE WHEN ('0x'||substr(md5(j||'_'||i),1,2))::INT % 2 = 0 THEN 1 ELSE -1 END AS sgn
             |  FROM range(0,8) t(j) CROSS JOIN range(0,64) u(i)),
             |comps AS (
             |  SELECT vec_id, i,
             |    CAST(round(CAST(embedding[i+1] AS DOUBLE)*10000) AS BIGINT) AS c
             |  FROM embeddings CROSS JOIN range(0,64) u(i)),
             |proj AS (
             |  SELECT vec_id, j, sum(c * sgn) AS p
             |  FROM comps JOIN planes USING (i) GROUP BY vec_id, j),
             |buckets AS (
             |  SELECT vec_id, CAST(sum(CASE WHEN p > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
             |  FROM proj GROUP BY vec_id)
             |SELECT bucket, count(*) AS n FROM buckets
             |GROUP BY bucket ORDER BY bucket""".stripMargin))
  )

  private val vectorLsh: Seq[Q] = Seq(
    // ----- V3: the ANN scale path — LSH-bucketed top-k (1-probe): only the
    // query's bucket is scanned, an equi-join instead of the n^2 pair space.
    Q("v3_knn_lsh",
      (s, dir) => {
        import s.implicits._
        val prepared = graft.ann.Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        graft.ann.Ann.lshKnn(prepared, nPlanes = 8, dim = 64, k = 3, $"id" < 10)
          .withColumnRenamed("qid", "qid").orderBy($"qid", $"rk")
      },
      Some("""WITH planes AS (
             |  SELECT j, i,
             |    CASE WHEN ('0x'||substr(md5(j||'_'||i),1,2))::INT % 2 = 0 THEN 1 ELSE -1 END AS sgn
             |  FROM range(0,8) t(j) CROSS JOIN range(0,64) u(i)),
             |comps AS (
             |  SELECT vec_id, i, CAST(round(CAST(embedding[i+1] AS DOUBLE)*10000) AS BIGINT) AS c
             |  FROM embeddings CROSS JOIN range(0,64) u(i)),
             |proj AS (
             |  SELECT vec_id, j, sum(c * sgn) AS p
             |  FROM comps JOIN planes USING (i) GROUP BY vec_id, j),
             |buckets AS (
             |  SELECT vec_id, sum(CASE WHEN p > 0 THEN 1 << j ELSE 0 END) AS bucket
             |  FROM proj GROUP BY vec_id),
             |q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |      FROM embeddings),
             |n AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM q),
             |pairs AS (
             |  SELECT a.vec_id AS qid, b.vec_id AS nid,
             |    round(list_sum(list_transform(list_zip(na.qv, nb.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(na.nq::DOUBLE) * sqrt(nb.nq::DOUBLE)), 6) AS cos
             |  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
             |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
             |  WHERE a.vec_id < 10)
             |SELECT qid, rk, nid, cos FROM (
             |  SELECT qid, nid, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM pairs)
             |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin)),

    // ----- V7: multi-probe LSH kNN — own bucket + every 1-bit-flip
    // neighbor (recall lever over v3's 1-probe; a missed true neighbor
    // usually fell across exactly one hyperplane). Equi-join on the probe
    // list, candidate set ~(nPlanes+1)/2^nPlanes of n per query.
    Q("v7_knn_multiprobe",
      (s, dir) => {
        import s.implicits._
        val prepared = graft.ann.Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        graft.ann.Ann.lshKnnMultiProbe(prepared, nPlanes = 8, dim = 64, k = 3, $"id" < 10)
          .orderBy($"qid", $"rk")
      },
      Some("""WITH planes AS (
             |  SELECT j, i,
             |    CASE WHEN ('0x'||substr(md5(j||'_'||i),1,2))::INT % 2 = 0 THEN 1 ELSE -1 END AS sgn
             |  FROM range(0,8) t(j) CROSS JOIN range(0,64) u(i)),
             |comps AS (
             |  SELECT vec_id, i, CAST(round(CAST(embedding[i+1] AS DOUBLE)*10000) AS BIGINT) AS c
             |  FROM embeddings CROSS JOIN range(0,64) u(i)),
             |proj AS (
             |  SELECT vec_id, j, sum(c * sgn) AS p
             |  FROM comps JOIN planes USING (i) GROUP BY vec_id, j),
             |buckets AS (
             |  SELECT vec_id, sum(CASE WHEN p > 0 THEN 1 << j ELSE 0 END) AS bucket
             |  FROM proj GROUP BY vec_id),
             |probes AS (
             |  SELECT vec_id, bucket AS probe FROM buckets WHERE vec_id < 10
             |  UNION ALL
             |  SELECT vec_id, CAST(xor(bucket, 1 << j) AS BIGINT)
             |  FROM buckets CROSS JOIN range(0,8) t(j) WHERE vec_id < 10),
             |q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |      FROM embeddings),
             |n AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM q),
             |pairs AS (
             |  SELECT a.vec_id AS qid, b.vec_id AS nid,
             |    round(list_sum(list_transform(list_zip(na.qv, nb.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(na.nq::DOUBLE) * sqrt(nb.nq::DOUBLE)), 6) AS cos
             |  FROM probes a JOIN buckets b ON a.probe = b.bucket AND a.vec_id != b.vec_id
             |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id)
             |SELECT qid, rk, nid, cos FROM (
             |  SELECT qid, nid, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM pairs)
             |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin))
  )

  /** Deterministic ±1 hyperplanes from md5 parity — same formula as the
    * DuckDB oracle (md5(s"${j}_$i") first hex byte parity). */
  def lshPlanes(nPlanes: Int, dim: Int): Seq[Seq[Long]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { j =>
      (0 until dim).map { i =>
        val hex = mdt.digest(s"${j}_$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 2)
        if (Integer.parseInt(hex, 16) % 2 == 0) 1L else -1L
      }
    }
  }

  // ==========================================================================
  // Structured Streaming (events as a stream), multimodal plumbing, and the
  // raster pipeline itself (no SQL oracle — driver records rows-only)
  // ==========================================================================

  private val streamingMultimodalRaster: Seq[Q] = Seq(

    // ----- S: tumbling event-time window over a parquet-backed stream.
    // Same answer as the batch daily rollup — the oracle checks exactly that.
    Q("s1_stream_tumbling",
      (s, dir) => {
        import s.implicits._
        // raw parquet schema (ts = INT64 nanos under nanosAsLong) — the
        // post-conversion schema from t() would mismatch the files.
        val schema = s.read.parquet(s"$dir/events.parquet").schema
        val queryName = "graft_stream_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val fixed = normTs(stream)
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = fixed
            .withWatermark("ts", "1 day")
            .groupBy(window($"ts", "1 day").as("w"), $"event_type")
            .agg(count(lit(1)).as("n"), sum(quant($"value", 100)).as("sum_cents"))
            .select($"w.start".as("day"), $"event_type", $"n", $"sum_cents")
            .writeStream.outputMode("complete")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        s.table(queryName).orderBy($"day", $"event_type")
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             |  count(*) AS n, CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- S3: streaming deduplication — the training-pipeline dedup
    // primitive in its incremental form. Duplicates are injected by
    // unioning the file stream with itself; dropDuplicatesWithinWatermark
    // keys on event_id with a 2-day event-time watermark (bounded state at
    // scale: old keys are evicted, unlike plain dropDuplicates), and the
    // memory-sink rows are batch-aggregated. The oracle is the single-copy
    // batch rollup — exactly what a correct dedup must reproduce.
    Q("s3_stream_dedup",
      (s, dir) => {
        import s.implicits._
        val schema = s.read.parquet(s"$dir/events.parquet").schema
        val queryName = "graft_dedup_" + java.util.UUID.randomUUID.toString.replace("-", "")
        def mk() = {
          val st = s.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
          normTs(st)
        }
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = mk().union(mk())
            .withWatermark("ts", "2 days")
            .dropDuplicatesWithinWatermark("event_id")
            .writeStream.outputMode("append")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        s.table(queryName)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum(quant($"value", 100)).as("sum_cents"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----- M3: multimodal frame sampling — treat the blob as a fixed-
    // frame-size "video" (64-byte frames), sample every 4th frame, and
    // fingerprint each sampled frame. Pure column ops (binary substring +
    // md5 + sequence/explode) keep the whole path codegen'd; at scale this
    // is one narrow map stage, no shuffle until the consumer. Hash-gated:
    // documents are ASCII so DuckDB's substr-of-text md5 sees the same
    // bytes as Spark's substring-of-binary.
    Q("m3_frame_sample",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          // a zero-frame "video" yields no frames — and guards the
          // illegal sequence(0, -1, 4) an empty blob would construct
          .filter($"doc_id" < 200 && length($"text") > 0)
          .select($"doc_id", $"text".cast("binary").as("blob"))
          .withColumn("n_frames", ceil(length($"blob") / 64.0).cast("int"))
          .select($"doc_id", $"n_frames", $"blob",
            explode(sequence(lit(0), $"n_frames" - 1, lit(4))).as("frame_idx"))
          .select($"doc_id", $"n_frames", $"frame_idx",
            md5(expr("substring(blob, frame_idx * 64 + 1, 64)")).as("frame_md5"))
          .orderBy($"doc_id", $"frame_idx")
      },
      Some("""WITH f AS (
             |  SELECT doc_id, text, CAST(ceil(len(text)/64.0) AS INT) AS n_frames
             |  FROM documents WHERE doc_id < 200 AND len(text) > 0),
             |fr AS (
             |  SELECT doc_id, n_frames,
             |         CAST(unnest(range(0, n_frames, 4)) AS INT) AS frame_idx, text
             |  FROM f)
             |SELECT doc_id, n_frames, frame_idx,
             |  md5(substr(text, frame_idx*64 + 1, 64)) AS frame_md5
             |FROM fr ORDER BY doc_id, frame_idx""".stripMargin)),

    // ----- M1: multimodal binary columns — opaque blob + typed metadata.
    // The blob here is the utf8 payload (the container has no image libs);
    // the engine treats it as opaque bytes exactly as it would image data.
    Q("m1_binary_meta",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"source", $"text".cast("binary").as("blob"))
          .select($"source", length($"blob").as("nbytes"),
                  substring(md5($"blob"), 1, 8).as("chk"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_blobs"), sum($"nbytes").as("sum_bytes"),
               min($"chk").as("min_chk"))
          .orderBy($"source")
      },
      Some("""SELECT source, count(*) AS n_blobs,
             |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
             |  min(substr(md5(text),1,8)) AS min_chk
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ----- M2: multimodal decode — REAL image decode (round 6; was a
    // byte-arithmetic stub through r5). The PNG binary column comes from
    // the one-time fixture cache (PngFixtureCache: document bytes laid
    // row-major into a (len%64+1) x ceil(len/width) gray raster,
    // zero-padded — ASCII bytes are [32,121], so 0 is out-of-band; the
    // container ships no image files). Round 7 moved that encode OUT of
    // the benched query so this number tracks the operator it names: the
    // production shape — batch mapPartitions over a stored binary column
    // running an actual ImageIO PNG decode (zlib inflate + defilter),
    // then feature-extract width/height/mean-over-valid-px.
    // 8-bit gray PNG raster samples round-trip exactly (ImageCodecSpec),
    // so the SQL oracle can still recompute every feature from the text.
    Q("m2_decode_png",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{ImageCodec, PngFixtureCache}
        val pngs = PngFixtureCache.pngTable(s, dir)
          .select($"doc_id", $"png_var")
          .as[(Long, Array[Byte])]
        pngs.mapPartitions { it =>
          it.map { case (id, png) =>
            val (w, h, px) = ImageCodec.decodeGrayPng(png)
            var sum = 0L; var n = 0; var i = 0
            while (i < px.length) { if (px(i) != 0) { sum += px(i); n += 1 }; i += 1 }
            val meanPx = if (n == 0) 0.0 else sum.toDouble / n
            (id, w, h, meanPx)
          }
        }.toDF("doc_id", "width", "height", "mean_px")
          .orderBy($"doc_id")
      },
      // Documents are pure ASCII (max codepoint 121), so ord(char) == byte
      // value and DuckDB recomputes width/height/mean exactly — the full
      // binary->PNG->ImageIO->struct plumbing is hash-gated. The double
      // division is a single IEEE op on an exact integer sum, bit-identical
      // across engines. COALESCE mirrors the 0.0 mean a fully-padded
      // (empty) raster would produce (DuckDB's empty-list sum is NULL,
      // which would otherwise diverge)
      Some("""WITH b AS (
             |  SELECT doc_id, text, octet_length(encode(text)) AS n,
             |         octet_length(encode(text)) % 64 + 1 AS wd
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(wd AS INT) AS width,
             |  CAST(greatest((n + wd - 1) // wd, 1) AS INT) AS height,
             |  COALESCE(CAST(list_sum(list_transform(range(1, len(text)+1), i -> ord(text[i]))) AS DOUBLE)
             |    / n, 0.0) AS mean_px
             |FROM b ORDER BY doc_id""".stripMargin)),

    // ----- R1: the flagship raster pipeline (STAC plan -> scan -> mosaic).
    // FakeReader pixels are never NaN, so valid_px per composite chunk is
    // pure coverage geometry: the union of the three staggered 256x256-px
    // scene footprints (pixel offsets 0/128/256 on the 512x512 grid, see
    // SparkEntry.entry) intersected with each 256-px chunk. The oracle
    // recomputes that union count from the footprint definition, making
    // the whole STAC->prepare->scan->mosaic path hash-gated. Pixel VALUES
    // are covered by the in-repo driver-side oracles (TileScanSpec,
    // MosaicSpec fixtures + fuzz) and by r4's position-weighted checksum.
    Q("r1_mosaic_composite", (s, _) => SparkEntry.entry(s),
      Some("""WITH sq AS (SELECT unnest([0,128,256]) AS o),
             |px AS (SELECT r, c FROM range(0,512) t(r) CROSS JOIN range(0,512) u(c)),
             |cov AS (SELECT r, c FROM px
             |        WHERE EXISTS (SELECT 1 FROM sq
             |                      WHERE r >= o AND r < o+256 AND c >= o AND c < o+256)),
             |ch AS (SELECT CAST(r//256 AS INT) AS yc, CAST(c//256 AS INT) AS xc,
             |              CAST(count(*) AS BIGINT) AS v
             |       FROM cov GROUP BY 1, 2)
             |SELECT band, yc AS "yChunk", xc AS "xChunk", v AS valid_px
             |FROM ch CROSS JOIN (SELECT unnest(['green','nir','red']) AS band) b
             |ORDER BY band, "yChunk", "xChunk"""".stripMargin)),

    // ----- R2: NDVI band algebra + temporal mean over synthetic scenes.
    Q("r2_ndvi_temporal",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds}
        import graft.stac.{Prepare, StacAsset, StacItem}
        import graft.scan.TileScan
        import graft.ops.{Mosaic, TileAlgebra}
        val items = (0 until 6).map { i =>
          StacItem(s"s$i", Some(f"2024-0${i / 3 + 6}%d-${i % 3 * 9 + 1}%02dT00:00:00Z"),
            epsg = Some(32633),
            assets = Seq("red", "nir").map { b =>
              b -> StacAsset(s"fake://$b/$i",
                bbox = Some(Bounds(0, 0, 1280, 1280)), shape = Some((128, 128)),
                transform = Some(AffineTransform.northUp(0, 1280, 10, 10)))
            }.toMap)
        }
        val plan = Prepare(items)
        val tiles = TileScan.scan(s, plan.assetTable, plan.spec, 128)
        val ndvi = TileAlgebra.ndvi(
          tiles.filter(_.band == "nir"), tiles.filter(_.band == "red"), 128)
        val monthly = Mosaic.temporalMean(ndvi, 128,
          micros => { // truncate to month via java.time (UTC)
            val inst = java.time.Instant.ofEpochSecond(micros / 1000000L)
            val d = java.time.ZonedDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
              .withDayOfMonth(1).toLocalDate.atStartOfDay(java.time.ZoneOffset.UTC)
            d.toInstant.getEpochSecond * 1000000L
          })
        monthly.map { case (period, ct) =>
          val valid = ct.pixels.count(!_.isNaN)
          (period / 1000000L, ct.band, ct.yChunk, ct.xChunk, valid)
        }.toDF("period_s", "band", "y_chunk", "x_chunk", "valid_px")
          .orderBy($"period_s", $"y_chunk", $"x_chunk")
      },
      // The six scenes share one 128x128 footprint (full coverage) and the
      // FakeReader never yields NaN (nir+red > 0 everywhere), so the two
      // monthly-mean composites are fully valid: the oracle recomputes
      // period keys + grid size from the item definitions. NDVI VALUES are
      // covered by MedianSpec/TileScanSpec driver-side oracles.
      Some("""SELECT CAST(epoch_us(mo)//1000000 AS BIGINT) AS period_s,
             |  'ndvi' AS band, CAST(0 AS INT) AS y_chunk, CAST(0 AS INT) AS x_chunk,
             |  CAST(128*128 AS INT) AS valid_px
             |FROM (SELECT unnest([TIMESTAMP '2024-06-01 00:00:00',
             |                     TIMESTAMP '2024-07-01 00:00:00']) AS mo) m
             |ORDER BY period_s""".stripMargin))
  )

  private val xyzTile: Seq[Q] = Seq(
    // ----- R3: the show()/tile-server path (SURVEY §3.3): mosaic the stack,
    // warp the composite into a slippy-map tile's 3857 grid, percentile-
    // normalize, PNG-encode. Rows-only check (binary sink).
    // ----- R3: XYZ slippy-tile render — the reference's tile path
    // (`geom_utils.py:307-383`, `show.py:915-967`): pick the z=12 tile
    // containing the source center, warp the EPSG:4326 ramp array onto the
    // tile's 3857 grid (nearest), normalize to [0,1], PNG-encode. Oracle-
    // gated: tile selection (tileOf), tile grid (tileSpec), the Mercator
    // inverse (3857 dst center -> 4326), the affine source sample, and the
    // normalize are all replayed op-for-op in SQL (pure IEEE arithmetic
    // except atan/exp on the single lat term, far from floor boundaries).
    // The PNG bytes are exercised but summarized as `png_ok` — deflate
    // byte-exactness is not SQL-testable.
    Q("r3_xyz_tile",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.{Reproject, Resampling}
        import graft.scan.{AssetRow, RampReader, TileScan}
        import graft.viz.{Png, Xyz}
        // 70x70 px ramp in EPSG:4326 over a 0.07 deg box; the z=12 tile is
        // wider than the box, so the warp has valid and nodata regions.
        val srcSpec = RasterSpec(4326, Bounds(12.07, 46.83, 12.14, 46.90), 0.001, 0.001)
        val asset = AssetRow(0, 0, "gray", 0L, "ramp://0", 12.07, 46.83, 12.14, 46.90, 1.0, 0.0)
        val tiles = TileScan.scan(s, Seq(asset), srcSpec, chunk = 64,
          readerFor = _ => RampReader(70))
        val (clon, clat) = ((12.07 + 12.14) / 2.0, (46.83 + 46.90) / 2.0)
        val z = 12; val (tx, ty) = Xyz.tileOf(clon, clat, z)
        val dstSpec = Xyz.tileSpec(z, tx, ty)
        val warped = Reproject(tiles, srcSpec, dstSpec, srcChunk = 64, dstChunk = 256,
          Resampling.Nearest)
        warped.map { t =>
          val norm = t.pixels.map(Png.normalize(_, 0.0, 4899.0)) // vmax = 70*70-1
          val png = Png.encode(Seq(norm), t.height, t.width)     // S11 sink exercised
          var validPx = 0L; var normSum = 0L; var posChk = 0L
          var i = 0
          while (i < norm.length) {
            val x = norm(i)
            if (!x.isNaN) {
              val q = math.floor(x * 1000000.0 + 0.5).toLong
              validPx += 1L; normSum += q; posChk += q * i
            }
            i += 1
          }
          (z, tx, ty, validPx, normSum, posChk, png.length >= 8)
        }.toDF("z", "x", "y", "valid_px", "norm_sum", "norm_pos_chk", "png_ok")
          .orderBy($"z", $"x", $"y")
      },
      Some("""WITH c0 AS (
             |  SELECT pi()/180.0 AS deg, 6378137.0 AS erad, 20037508.342789244 AS M,
             |         (12.07 + 12.14)/2.0 AS clon, (46.83 + 46.90)/2.0 AS clat),
             |t0 AS (
             |  SELECT *,
             |    CAST(floor((clon + 180.0)/360.0*4096) AS INT) AS tx,
             |    CAST(floor((1.0 - ln(tan(clat/180.0*pi()) + 1.0/cos(clat/180.0*pi()))/pi())/2.0*4096) AS INT) AS ty
             |  FROM c0),
             |t1 AS (SELECT *, 2.0*M/4096 AS size FROM t0),
             |t2 AS (SELECT *, -M + tx*size AS dminx, M - ty*size AS dmaxy FROM t1),
             |t3 AS (SELECT *, ((dminx + size) - dminx)/256.0 AS xres,
             |                 (dmaxy - (dmaxy - size))/256.0 AS yres FROM t2),
             |px AS (SELECT r, c, r*256 + c AS pos
             |       FROM range(0,256) t(r) CROSS JOIN range(0,256) u(c)),
             |mm AS (SELECT px.r, px.c, px.pos, t3.*,
             |         xres*(c + 0.5) + dminx AS mx,
             |         (-yres)*(r + 0.5) + dmaxy AS my
             |       FROM px CROSS JOIN t3),
             |ll AS (SELECT *, mx / erad / deg AS lon,
             |         (2.0*atan(exp(my / erad)) - pi()/2.0) / deg AS lat FROM mm),
             |ff AS (SELECT *,
             |         ((-0.001)/(0.001*(-0.001)))*lon + (-(((-0.001)/(0.001*(-0.001)))*12.07)) AS fc,
             |         (0.001/(0.001*(-0.001)))*lat + (-((0.001/(0.001*(-0.001)))*46.90)) AS fr
             |       FROM ll),
             |ss AS (SELECT *, CAST(floor(fr) AS INT) AS rr, CAST(floor(fc) AS INT) AS cc FROM ff),
             |vv AS (SELECT pos, tx, ty,
             |         CASE WHEN rr >= 0 AND rr < 70 AND cc >= 0 AND cc < 70
             |              THEN CAST(rr*70 + cc AS BIGINT) END AS val
             |       FROM ss),
             |qq AS (SELECT pos, tx, ty,
             |         CAST(floor((val - 0.0)/(4899.0 - 0.0)*1000000.0 + 0.5) AS BIGINT) AS q
             |       FROM vv WHERE val IS NOT NULL)
             |SELECT CAST(12 AS INT) AS z, tx AS x, ty AS y,
             |  CAST(count(*) AS BIGINT) AS valid_px,
             |  CAST(sum(q) AS BIGINT) AS norm_sum,
             |  CAST(sum(q*pos) AS BIGINT) AS norm_pos_chk,
             |  TRUE AS png_ok
             |FROM qq GROUP BY tx, ty
             |ORDER BY 1, 2, 3""".stripMargin))
  )

  private val sessionizeIvf: Seq[Q] = Seq(

    // ----- S2: gap-based sessionization via typed flatMapGroups (the
    // stateful-logic surface; streaming twin in graft.streaming.Sessionize).
    // Oracle: classic lag/cumsum session assignment.
    Q("s2_sessionize",
      (s, dir) => {
        import s.implicits._
        import graft.streaming.Sessionize
        val ev = t(s, dir, "events")
          .filter($"value".isNotNull)
          .select($"user_id", unix_micros($"ts").as("ts_micros"),
                  quant($"value", 100).as("cents"))
          .as[Sessionize.Event]
        Sessionize.batch(ev, gapMicros = 1800000000L) // 30 min
          .toDF()
          .orderBy($"user_id", $"session_start")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
             |         CAST(floor(value*100+0.5) AS BIGINT) AS cents
             |  FROM events WHERE value IS NOT NULL),
             |g AS (SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
             |                     OR tsu - lag(tsu) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, cents)),
             |x AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tsu, cents
             |                               ROWS UNBOUNDED PRECEDING) AS sess FROM g)
             |SELECT user_id, min(tsu) AS session_start, count(*) AS n_events,
             |       CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM x GROUP BY user_id, sess
             |ORDER BY user_id, session_start""".stripMargin)),

    // ----- V4: IVF-style ANN — label partitions as the coarse quantizer.
    // Centroid cosine uses the per-label integer SUM vector (the 1/n
    // factor cancels in cosine), so centroid assignment is exact integer
    // math, order-free on both engines.
    Q("v4_knn_ivf",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val prepared = graft.ann.Ann.prepare(emb, "vec_id", "embedding")
          .join(emb.select($"vec_id".as("id"), $"label"), "id")
        val sums = prepared
          .select($"label", posexplode($"qv").as(Seq("pos", "v")))
          .groupBy($"label", $"pos").agg(sum($"v").as("sv"))
          .groupBy($"label")
          .agg(transform(array_sort(collect_list(struct($"pos", $"sv"))),
                         x => x.getField("sv")).as("cv"))
          .withColumn("ncv", graft.functions.GraftFunctions.dot_long($"cv", $"cv"))
        val q = prepared.filter($"id" < 10)
        val assign = broadcast(q.as("q")).join(broadcast(sums.as("c")))
          .select($"q.id".as("qid"), $"q.qv".as("qqv"), $"q.nq".as("qnq"), $"c.label",
            (graft.functions.GraftFunctions.dot_long($"q.qv", $"c.cv").cast("double") /
             (sqrt($"q.nq".cast("double")) * sqrt($"c.ncv".cast("double")))).as("ccos"))
        val wc = Window.partitionBy($"qid").orderBy($"ccos".desc, $"label")
        val probe = assign.withColumn("rc", row_number().over(wc)).filter($"rc" === 1)
          .select($"qid", $"qqv", $"qnq", $"label")
        val pairs = broadcast(probe.as("p"))
          .join(prepared.as("m"), $"p.label" === $"m.label" && $"p.qid" =!= $"m.id")
          .select($"p.qid".as("qid"), $"m.id".as("nid"),
            round(graft.functions.GraftFunctions.dot_long($"p.qqv", $"m.qv").cast("double") /
                  (sqrt($"p.qnq".cast("double")) * sqrt($"m.nq".cast("double"))), 6).as("cos"))
        val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
        pairs.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
          .select($"qid", $"rk", $"nid", $"cos")
          .orderBy($"qid", $"rk")
      },
      Some("""WITH q AS (SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |n AS (SELECT vec_id, label, qv,
             |             list_sum(list_transform(qv, x -> x*x)) AS nq FROM q),
             |comps AS (
             |  SELECT label, i, sum(qv[i+1]) AS sv
             |  FROM q CROSS JOIN range(0,64) t(i) GROUP BY label, i),
             |cents AS (
             |  SELECT label, list(sv ORDER BY i) AS cv FROM comps GROUP BY label),
             |cn AS (SELECT label, cv, list_sum(list_transform(cv, x -> x*x)) AS ncv FROM cents),
             |assign AS (
             |  SELECT a.vec_id AS qid, a.qv AS qqv, a.nq AS qnq, c.label,
             |    list_sum(list_transform(list_zip(a.qv, c.cv), s -> s[1]*s[2]))::DOUBLE
             |      / (sqrt(a.nq::DOUBLE) * sqrt(c.ncv::DOUBLE)) AS ccos
             |  FROM n a CROSS JOIN cn c WHERE a.vec_id < 10),
             |probe AS (
             |  SELECT qid, qqv, qnq, label FROM (
             |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, label) AS rc
             |    FROM assign) WHERE rc = 1),
             |pairs AS (
             |  SELECT p.qid, m.vec_id AS nid,
             |    round(list_sum(list_transform(list_zip(p.qqv, m.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(p.qnq::DOUBLE) * sqrt(m.nq::DOUBLE)), 6) AS cos
             |  FROM probe p JOIN n m ON p.label = m.label AND p.qid != m.vec_id)
             |SELECT qid, rk, nid, cos FROM (
             |  SELECT qid, nid, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
             |  FROM pairs)
             |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin))
  )

  private val geotiff: Seq[Q] = Seq(
    // ----- R4: real-file scan path, oracle-gated. Writes deterministic
    // 16-bit TIFFs (value = offset_i + r*300 + c) to the JVM temp dir,
    // scans them through GeoTiffReader, mosaics last-on-top, and
    // aggregates — the oracle recomputes the closed form over a generated
    // grid, so the whole file->decode->scan->mosaic path is hash-checked.
    Q("r4_geotiff_scan",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.scan.{AssetRow, GeoTiffReader, TileScan}
        import graft.ops.Mosaic
        val dir = new java.io.File(
          System.getProperty("java.io.tmpdir"), "graft_r4_tiffs")
        dir.mkdirs()
        val files = (0 until 2).map { i =>
          val f = new java.io.File(dir, s"scene$i.tif")
          if (!f.exists()) {
            // atomic publish: write to a temp file, rename into place, so
            // a killed or concurrent run can never expose a partial TIFF
            val img = new java.awt.image.BufferedImage(
              64, 64, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
            val ras = img.getRaster
            for (r <- 0 until 64; c <- 0 until 64)
              ras.setSample(c, r, 0, i * 20000 + r * 300 + c)
            val tmp = java.io.File.createTempFile(s"scene$i", ".tif.tmp", dir)
            javax.imageio.ImageIO.write(img, "tiff", tmp)
            if (!tmp.renameTo(f) && !f.exists()) sys.error(s"cannot publish $f")
            tmp.delete()
          }
          f
        }
        val spec = RasterSpec(32633, Bounds(0, 0, 640, 640), 10, 10)
        val assets = files.zipWithIndex.map { case (f, i) =>
          AssetRow(i, 0, "gray", i.toLong * 1000000L, f.getAbsolutePath,
                   0, 0, 640, 640, 1.0, 0.0)
        }
        val tiles = TileScan.scan(s, assets, spec, chunk = 32,
          readerFor = GeoTiffReader.factory(spec))
        // position-weighted checksum makes the oracle orientation-
        // sensitive: a flipped/transposed decode permutes the same value
        // multiset and would pass sum/min/max alone.
        Mosaic(tiles, 32) // last-on-top => scene 1 (offset 20000) wins
          .flatMap { ct =>
            for {
              r <- 0 until ct.height; c <- 0 until ct.width
              v = ct.pixels(r * ct.width + c) if !v.isNaN
            } yield (v.toLong, ((ct.yChunk * 32 + r).toLong * 64 + ct.xChunk * 32 + c))
          }
          .toDF("v", "pos")
          .agg(count(lit(1)).as("n_px"), sum($"v").as("sum_v"),
               min($"v").as("min_v"), max($"v").as("max_v"),
               sum($"v" * $"pos").as("pos_chk"))
      },
      Some("""SELECT count(*) AS n_px,
             |  CAST(sum(20000 + r*300 + c) AS BIGINT) AS sum_v,
             |  min(20000 + r*300 + c) AS min_v,
             |  max(20000 + r*300 + c) AS max_v,
             |  CAST(sum((20000 + r*300 + c) * (r*64 + c)) AS BIGINT) AS pos_chk
             |FROM range(0,64) t(r) CROSS JOIN range(0,64) u(c)""".stripMargin))
  )

  // ==========================================================================
  // Round-2 widening: index-monotonicity audit (SURVEY O2), hopping event-
  // time windows, deterministic train/val/test hash split, regex scrubbing
  // ==========================================================================

  private val roundTwo: Seq[Q] = Seq(

    // ----- R5: DataSource V2 tile scan with predicate pushdown — the same
    // STAC plan as the flagship (10 staggered scenes, SURVEY §7.3's DSv2
    // graduation), scanned through TileSourceV2 with band + time-range
    // predicates. The filters prune the (asset x chunk) work-list BEFORE
    // any pixel read (PushedFilters in explain); the surviving scenes 0-1
    // leave footprint squares at pixel offsets {0,128}, and the oracle
    // recomputes per-chunk tile counts and sparse-rect pixel sums from
    // that geometry. Pixel values are covered by TileSourceV2Spec's
    // equality test against TileScan.scan.
    Q("r5_dsv2_pruned",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds}
        import graft.stac.{Prepare, PrepareOptions, StacAsset, StacItem}
        val items = (0 until 10).map { i =>
          val off = (i % 3) * 1280.0
          StacItem(s"scene-$i", Some(f"2024-06-${i + 1}%02dT10:00:00Z"), epsg = Some(32633),
            assets = Seq("red", "green", "nir").map { band =>
              band -> StacAsset(s"fake://$band/$i",
                bbox = Some(Bounds(399960 + off, 4990200 - off, 399960 + off + 2560, 4990200 - off + 2560)),
                shape = Some((256, 256)),
                transform = Some(AffineTransform.northUp(399960 + off, 4990200 - off + 2560, 10.0, 10.0)))
            }.toMap)
        }
        val plan = Prepare(items, PrepareOptions(assets = Some(Seq("red", "green", "nir"))))
        val cutoff = java.time.Instant.parse("2024-06-03T00:00:00Z").toEpochMilli * 1000L
        graft.scan.v2.TileSourceV2.scan(s, plan.assetTable, plan.spec, chunk = 256)
          .filter($"band" === "red" && $"timeMicros" < cutoff)
          .groupBy($"yChunk", $"xChunk")
          .agg(count(lit(1)).as("n_tiles"), sum(size($"pixels")).as("px_sum"))
          .orderBy($"yChunk", $"xChunk")
      },
      Some("""WITH sq AS (SELECT unnest([0,128]) AS o),
             |px AS (SELECT r, c FROM range(0,512) t(r) CROSS JOIN range(0,512) u(c)),
             |hits AS (SELECT r, c, o FROM px JOIN sq
             |         ON r >= o AND r < o+256 AND c >= o AND c < o+256),
             |ch AS (SELECT CAST(r//256 AS INT) AS yc, CAST(c//256 AS INT) AS xc,
             |              CAST(count(*) AS BIGINT) AS px_sum,
             |              CAST(count(DISTINCT o) AS BIGINT) AS n_tiles
             |       FROM hits GROUP BY 1, 2)
             |SELECT yc AS "yChunk", xc AS "xChunk", n_tiles, px_sum
             |FROM ch ORDER BY 1, 2""".stripMargin)),

    // ----- R10: DSv2 AGGREGATE pushdown (SupportsPushDownAggregates) —
    // the catalog-style questions a planner asks before scheduling IO
    // ("how many tiles, what time range, which bands") answered from
    // the metadata work-list with ZERO pixel IO and zero executor scan
    // tasks: the source detects a global COUNT/MIN/MAX over metadata
    // columns, computes it on the DRIVER from the same pushed-filter-
    // pruned enumeration the scan would use, and emits one row
    // (complete pushdown — Spark plans no aggregate at all, asserted in
    // TileSourceV2Spec along with the zero-pixel-read counter and the
    // grouped/filtered fallback cases). Oracle derives the same numbers
    // from the r5 fixture geometry first-principles.
    Q("r10_dsv2_agg",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds}
        import graft.stac.{Prepare, PrepareOptions, StacAsset, StacItem}
        val items = (0 until 10).map { i =>
          val off = (i % 3) * 1280.0
          StacItem(s"scene-$i", Some(f"2024-06-${i + 1}%02dT10:00:00Z"), epsg = Some(32633),
            assets = Seq("red", "green", "nir").map { band =>
              band -> StacAsset(s"fake://$band/$i",
                bbox = Some(Bounds(399960 + off, 4990200 - off, 399960 + off + 2560, 4990200 - off + 2560)),
                shape = Some((256, 256)),
                transform = Some(AffineTransform.northUp(399960 + off, 4990200 - off + 2560, 10.0, 10.0)))
            }.toMap)
        }
        val plan = Prepare(items, PrepareOptions(assets = Some(Seq("red", "green", "nir"))))
        graft.scan.v2.TileSourceV2.scan(s, plan.assetTable, plan.spec, chunk = 256)
          .agg(count(lit(1)).as("n_tiles"),
            min($"timeMicros").as("min_t"), max($"timeMicros").as("max_t"),
            min($"band").as("min_band"), max($"band").as("max_band"))
      },
      Some("""WITH it AS (SELECT CAST(i AS INT) AS i, (i % 3) * 128 AS off FROM range(0, 10) t(i)),
             |nch AS (SELECT i, CASE off WHEN 128 THEN 4 ELSE 1 END AS nc FROM it),
             |tm AS (SELECT i, epoch_us(TIMESTAMP '2024-06-01 10:00:00' + (i * INTERVAL 1 DAY)) AS t FROM it)
             |SELECT CAST(3 * (SELECT sum(nc) FROM nch) AS BIGINT) AS n_tiles,
             |  CAST((SELECT min(t) FROM tm) AS BIGINT) AS min_t,
             |  CAST((SELECT max(t) FROM tm) AS BIGINT) AS max_t,
             |  'green' AS min_band, 'red' AS max_band""".stripMargin)),

    // ----- O2: monotonicity audit — lag-based order check per key
    // (the reference asserts x/y index monotonicity, geom_utils.py:176-183;
    // here as a first-class audit operator over event streams).
    Q("o2_monotonic",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"event_id")
        t(s, dir, "events")
          .filter($"user_id" < 100)
          .withColumn("prev_ts", lag($"ts", 1).over(w))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
               sum(when($"ts" < $"prev_ts", 1L).otherwise(0L)).as("n_violations"))
          .orderBy($"user_id")
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |         lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
             |  FROM events WHERE user_id < 100)
             |SELECT user_id, count(*) AS n_events,
             |  CAST(sum(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ----- W4: hopping (sliding) event-time window — 2-day windows sliding
    // by 1 day, each event lands in exactly two windows. Spark aligns hop
    // starts to epoch-multiples of the slide, so for a 1-day slide the
    // containing starts are trunc(ts) and trunc(ts) - 1 day.
    Q("w4_hopping",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(window($"ts", "2 days", "1 day").as("w"), $"event_type")
          .agg(count(lit(1)).as("n"), sum(quant($"value", 100)).as("sum_cents"))
          .select($"w.start".as("wstart"), $"event_type", $"n", $"sum_cents")
          .orderBy($"wstart", $"event_type")
      },
      Some("""SELECT CAST(date_trunc('day', ts) - to_days(k) AS TIMESTAMP) AS wstart,
             |  event_type, count(*) AS n,
             |  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events CROSS JOIN (SELECT unnest([0,1]) AS k) t
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- X1: deterministic hash split — the train/val/test assignment a
    // training-data pipeline needs: stable under reshuffling/rescaling
    // because the bucket is a pure function of the key (md5 60-bit int,
    // same recipe both engines), never a row_number.
    Q("x1_split_hash",
      (s, dir) => {
        import s.implicits._
        val bucket = conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long") % 100
        t(s, dir, "documents")
          .withColumn("split",
            when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
          .groupBy($"split")
          .agg(count(lit(1)).as("n"), min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
          .orderBy($"split")
      },
      Some("""WITH b AS (
             |  SELECT doc_id, ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS bk
             |  FROM documents)
             |SELECT CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
             |            ELSE 'test' END AS split,
             |  count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T6: regex scrubbing — redaction as a codegen'd column op
    // (regexp_replace), measured by removed-char mass per source. DuckDB
    // needs the 'g' flag to match Spark's replace-all semantics.
    Q("t6_scrub",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"source",
            (length($"text") - length(regexp_replace($"text", "[aeiou]", ""))).as("removed"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"removed").cast("long").as("sum_removed"))
          .orderBy($"source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(len(text) - len(regexp_replace(text, '[aeiou]', '', 'g'))) AS BIGINT) AS sum_removed
             |FROM documents GROUP BY source ORDER BY source""".stripMargin))
  )

  // ==========================================================================
  // Round 2b: as-of join, KMV sketch, skew-salted agg, stratified sample,
  // BPE-ish tokenization, pivot
  // ==========================================================================

  private val roundTwoB: Seq[Q] = Seq(

    // ----- J6: backward as-of join — each purchase event matched to the
    // user's most recent prior click (inclusive), the temporal analog of
    // the reference's closest-in-time item matching. ops.AsOfJoin runs it
    // as ONE shuffle (tagged union + running last() window), not a range
    // cross join. Ties on click ts resolve to max event_id on both sides.
    Q("j6_asof",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val purchases = ev.filter($"event_type" === "purchase")
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id", $"ts", $"event_id")
        graft.ops.AsOfJoin.backward(
            purchases, clicks,
            key = Seq("user_id"), time = "ts",
            payload = Seq("event_id", "ts"),
            tiebreak = Seq("event_id"), prefix = "c_")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_purch"),
               count($"c_event_id").as("n_matched"),
               sum(coalesce($"c_event_id", lit(0L))).as("sum_click_eid"),
               sum(coalesce(unix_micros($"ts") - unix_micros($"c_ts"), lit(0L))).as("sum_gap_us"))
          .orderBy($"user_id")
      },
      Some("""WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts, max(event_id) AS c_eid
             |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
             |j AS (SELECT p.user_id, c.c_eid, p.ts AS p_ts, c.ts AS c_ts
             |      FROM p ASOF LEFT JOIN c
             |        ON p.user_id = c.user_id AND p.ts >= c.ts)
             |SELECT user_id, count(*) AS n_purch, count(c_eid) AS n_matched,
             |  CAST(sum(COALESCE(c_eid, 0)) AS BIGINT) AS sum_click_eid,
             |  CAST(sum(COALESCE(epoch_us(p_ts) - epoch_us(c_ts), 0)) AS BIGINT) AS sum_gap_us
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- J7: nearest as-of join — each purchase matched to the user's
    // click closest in time in EITHER direction (the reference's
    // closest-scene-in-time semantics generalized); backward wins ties.
    // Same single-shuffle tagged-union window plan as j6.
    Q("j7_asof_nearest",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val purchases = ev.filter($"event_type" === "purchase")
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id", $"ts", $"event_id")
        graft.ops.AsOfJoin.nearest(
            purchases, clicks,
            key = Seq("user_id"), time = "ts",
            payload = Seq("event_id", "ts"),
            tiebreak = Seq("event_id"), prefix = "c_")
          .filter($"c_event_id".isNotNull)
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_purch"),
               sum($"c_event_id").as("sum_near_eid"),
               sum(abs(unix_micros($"ts") - unix_micros($"c_ts"))).as("sum_abs_gap_us"))
          .orderBy($"user_id")
      },
      Some("""WITH p AS (SELECT user_id, event_id AS p_eid, ts AS p_ts
             |           FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, event_id AS c_eid, ts AS c_ts
             |      FROM events WHERE event_type = 'click'),
             |j AS (SELECT p.user_id, p.p_eid, p.p_ts, c.c_eid, c.c_ts,
             |        row_number() OVER (PARTITION BY p.user_id, p.p_eid
             |          ORDER BY abs(epoch_us(c.c_ts) - epoch_us(p.p_ts)),
             |                   CASE WHEN c.c_ts <= p.p_ts THEN 0 ELSE 1 END,
             |                   CASE WHEN c.c_ts <= p.p_ts THEN -c.c_eid ELSE c.c_eid END) AS rn
             |      FROM p JOIN c ON p.user_id = c.user_id)
             |SELECT user_id, count(*) AS n_purch,
             |  CAST(sum(c_eid) AS BIGINT) AS sum_near_eid,
             |  CAST(sum(abs(epoch_us(c_ts) - epoch_us(p_ts))) AS BIGINT) AS sum_abs_gap_us
             |FROM j WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- J8: large-×-large PURE range join (ops.RangeJoin.byBuckets) —
    // the join cell j3/j6 leave open: a range-ONLY condition (no equi-
    // key) between two data-scale sides plans as BroadcastNestedLoopJoin
    // or a cartesian in naive Spark. Binning turns it into a shuffled
    // equi-join on bucket id (each right row owns one bucket map-side,
    // each left row explodes to the ≤2 buckets its window touches) with
    // the exact inclusive range predicate as post-filter. Here: global
    // error-burst attribution — for each purchase, the count of ERROR
    // events of ANY user in the preceding 10 minutes (no shared key),
    // rolled up to a (n_err → n_purchases) distribution. RangeJoinSpec
    // pins equivalence to the naive theta join and that the plan carries
    // no BNLJ/cartesian.
    Q("j8_range_burst",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"event_id".as("pid"), $"ts".as("pts"))
        val errors = ev.filter($"event_type" === "error")
          .select($"event_id".as("eid"), $"ts".as("ets"))
        val perP = graft.ops.RangeJoin.byBuckets(
            purchases, errors, $"pts", $"ets",
            lowerSec = -600, upperSec = 0, bucketSec = 600)
          .groupBy($"pid").agg(count(lit(1)).as("n_err"))
        purchases.join(perP, Seq("pid"), "left")
          .select(coalesce($"n_err", lit(0L)).as("n_err"))
          .groupBy($"n_err").agg(count(lit(1)).as("n_purchases"))
          .orderBy($"n_err")
      },
      Some("""WITH p AS (SELECT event_id AS pid, ts AS pts FROM events WHERE event_type = 'purchase'),
             |e AS (SELECT ts AS ets FROM events WHERE event_type = 'error'),
             |c AS (SELECT p.pid, count(e.ets) AS n_err
             |      FROM p LEFT JOIN e
             |        ON e.ets BETWEEN p.pts - INTERVAL 600 SECOND AND p.pts
             |      GROUP BY p.pid)
             |SELECT n_err, count(*) AS n_purchases
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- K1: KMV bottom-k distinct sketch vs exact — one-pass mergeable
    // bounded state (k=64 longs) with map-side partial aggregation; the
    // estimator (k-1)*2^60/h_k is hash-deterministic so DuckDB replays it
    // bit-for-bit (k2 extends the same discipline to HLL).
    Q("k1_kmv_sketch",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(countDistinct($"l_orderkey").as("n_exact"),
               graft.sketch.Kmv.distinctEstimate(
                 graft.sketch.Kmv.hash60($"l_orderkey"), k = 64).as("kmv_est"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH h AS (SELECT DISTINCT l_returnflag AS g,
             |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
             |  FROM lineitem),
             |r AS (SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv) AS rn FROM h),
             |s AS (SELECT g, max(hv) AS hk, count(*) AS kc FROM r WHERE rn <= 64 GROUP BY g),
             |x AS (SELECT l_returnflag AS g, count(DISTINCT l_orderkey) AS n_exact
             |      FROM lineitem GROUP BY 1)
             |SELECT s.g AS l_returnflag, CAST(x.n_exact AS BIGINT) AS n_exact,
             |  CAST(CASE WHEN s.kc < 64 THEN s.kc
             |            ELSE floor(63.0 * pow(2.0, 60) / s.hk) END AS BIGINT) AS kmv_est
             |FROM s JOIN x ON s.g = x.g ORDER BY 1""".stripMargin)),

    // ----- R6: grid-to-grid reprojection, hash-gated — a 256x256/10m
    // ramp raster warped to a shifted 300x300/7.5m grid (same CRS, nearest
    // resampling; 13 west columns fall outside the source and become
    // nodata). The oracle replays Reproject's exact per-pixel arithmetic:
    // dst pixel center -> affine -> inverse affine -> floor. The affine
    // constants collapse to exact literals (0.1 = -10/-100 is the
    // correctly-rounded double; +-0.0 terms are IEEE-exact no-ops), so
    // every sampled index matches bit-for-bit.
    Q("r6_reproject",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.scan.{AssetRow, RampReader, TileScan}
        val srcSpec = RasterSpec(32633, Bounds(0, 0, 2560, 2560), 10.0, 10.0)   // 256x256
        val dstSpec = RasterSpec(32633, Bounds(-100.25, 305, 2149.75, 2555), 7.5, 7.5) // 300x300
        val asset = AssetRow(0, 0, "b", 0L, "ramp://0", 0, 0, 2560, 2560, 1.0, 0.0)
        val tiles = TileScan.scan(s, Seq(asset), srcSpec, chunk = 128,
          readerFor = _ => RampReader(256))
        graft.ops.Reproject(tiles, srcSpec, dstSpec, srcChunk = 128, dstChunk = 150)
          .toDF()
          .select($"yChunk", $"xChunk", posexplode($"pixels").as(Seq("pos", "v")))
          .filter(!isnan($"v"))
          .groupBy($"yChunk", $"xChunk")
          .agg(count(lit(1)).as("n_px"),
               sum($"v".cast("long")).as("sum_v"),
               sum($"v".cast("long") * $"pos").as("pos_chk"))
          .orderBy($"yChunk", $"xChunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,300) t(r) CROSS JOIN range(0,300) u(c)),
             |m AS (SELECT r, c,
             |        7.5*(c + 0.5) + 0.0*(r + 0.5) + (-100.25) AS dx,
             |        0.0*(c + 0.5) + (-7.5)*(r + 0.5) + 2555.0 AS dy
             |      FROM px),
             |f AS (SELECT r, c, 0.1*dx AS fc, (-0.1)*dy + (-((-0.1)*2560.0)) AS fr FROM m),
             |sx AS (SELECT r, c, CAST(floor(fr) AS INT) AS rr, CAST(floor(fc) AS INT) AS cc FROM f)
             |SELECT CAST(r//150 AS INT) AS "yChunk", CAST(c//150 AS INT) AS "xChunk",
             |  count(*) AS n_px,
             |  CAST(sum(CAST(rr*256 + cc AS BIGINT)) AS BIGINT) AS sum_v,
             |  CAST(sum(CAST(rr*256 + cc AS BIGINT) * ((r%150)*150 + (c%150))) AS BIGINT) AS pos_chk
             |FROM sx WHERE rr >= 0 AND rr < 256 AND cc >= 0 AND cc < 256
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- V5: embedding centroids (IVF training step / mean-pooling) —
    // per-label element-wise vector sum via the mergeable VectorAgg UDAF:
    // map-side partial aggregation ships (labels × 64) longs, never the
    // vectors; posexplode only the 10×64 final centroids. Quantized
    // integer sums keep the result order-free and oracle-reproducible.
    Q("v5_centroids",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "embeddings")
          .select($"label", qvec($"embedding").as("qv"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n"), graft.sketch.VectorAgg.vectorSum($"qv").as("vsum"))
          .select($"label", $"n", posexplode($"vsum").as(Seq("dim", "sum_q")))
          .withColumn("centroid_q", floor($"sum_q".cast("double") / $"n" + 0.5).cast("long"))
          .orderBy($"label", $"dim")
      },
      Some("""WITH q AS (SELECT label,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |cnt AS (SELECT label, count(*) AS n FROM q GROUP BY 1),
             |e AS (SELECT label, CAST(i AS INT) AS dim, qv[CAST(i AS INT) + 1] AS v
             |      FROM q CROSS JOIN range(0, 64) t(i)),
             |s AS (SELECT label, dim, CAST(sum(v) AS BIGINT) AS sum_q
             |      FROM e GROUP BY 1, 2)
             |SELECT s.label, cnt.n, s.dim, s.sum_q,
             |  CAST(floor(CAST(s.sum_q AS DOUBLE) / cnt.n + 0.5) AS BIGINT) AS centroid_q
             |FROM s JOIN cnt ON s.label = cnt.label
             |ORDER BY s.label, s.dim""".stripMargin)),

    // ----- G1: skew-salted two-phase aggregation — event_type has 5 hot
    // keys (exactly the shape that funnels a 100 TB shuffle into 5
    // reducers); ops.Salt splits each key across 32 salt buckets and
    // recombines. Integer sums make the result identical to plain groupBy.
    Q("g1_salted_agg",
      (s, dir) => {
        import s.implicits._
        graft.ops.Salt.saltedSumCount(
            t(s, dir, "events"),
            keys = Seq("event_type"),
            sums = Seq("sum_cents" -> quant($"value", 100)),
            saltOn = $"event_id",
            saltBuckets = 32)
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- G2: sketch-driven AUTO-salt — the skew decision closed-loop
    // (k4's count-min feeding g1's salted agg, Salt.autoFactor): the
    // hottest key's row count is bounded by min-over-rows of the max
    // bucket counter (a certified over-estimate — auto-salting can
    // never under-split), the factor is ceil(estMax / targetRowsPerTask)
    // clamped, and the salted aggregation runs at that factor. The
    // oracle replays the sketch, the row-max/min bound, the factor
    // arithmetic, AND the aggregate — so the plan DECISION itself is
    // hash-gated, not just the result.
    Q("g2_auto_salt",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val factor = graft.ops.Salt.autoFactor(
          ev, $"event_type", targetRowsPerTask = 500L, d = 4, w = 1024)
        graft.ops.Salt.saltedSumCount(
            ev,
            keys = Seq("event_type"),
            sums = Seq("sum_cents" -> quant($"value", 100)),
            saltOn = $"event_id",
            saltBuckets = factor)
          .withColumn("salt_factor", lit(factor.toLong))
          .orderBy($"event_type")
      },
      Some("""WITH rb AS (SELECT r.j AS rw,
             |         ('0x'||substr(md5(r.j::VARCHAR||'|'||event_type),1,15))::BIGINT % 1024 AS bucket
             |       FROM events CROSS JOIN (SELECT unnest(range(4)) AS j) r),
             |cm AS (SELECT rw, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
             |mx AS (SELECT min(m) AS est FROM (SELECT rw, max(cnt) AS m FROM cm GROUP BY rw)),
             |f AS (SELECT least(1024, greatest(1, (est + 499) // 500)) AS salt_factor FROM mx)
             |SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
             |  CAST(f.salt_factor AS BIGINT) AS salt_factor
             |FROM events CROSS JOIN f
             |GROUP BY event_type, f.salt_factor ORDER BY event_type""".stripMargin)),

    // ----- X2: exact-size stratified sample — per language stratum, the
    // ceil(10% * N) docs with smallest md5(doc_id): deterministic across
    // runs/cluster sizes and stable under data growth (a doc leaves the
    // sample only when smaller hashes arrive). Complements x1's
    // hash-threshold split (approximate per-stratum rate).
    Q("x2_stratified_sample",
      (s, dir) => {
        import s.implicits._
        graft.ops.Sample.stratifiedExact(
            t(s, dir, "documents"), strata = Seq("lang"), idCol = $"doc_id", fraction = 0.1)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_sampled"), sum($"doc_id").as("sum_ids"))
          .orderBy($"lang")
      },
      Some("""WITH h AS (SELECT lang, doc_id,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
             |  FROM documents),
             |w AS (SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY lang) AS nt FROM h)
             |SELECT lang, count(*) AS n_sampled, CAST(sum(doc_id) AS BIGINT) AS sum_ids
             |FROM w WHERE rn <= ceil(nt * 0.1)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T7: BPE-ish tokenization — GPT-2-style pretokenizer regex
    // (letter runs / digit runs / punct runs, each absorbing one leading
    // space) restricted to lookahead-free RE2∩Java syntax so Spark and
    // DuckDB extract identical token streams; compared against plain
    // whitespace splitting. Codegen'd regexp, no UDF.
    Q("t7_bpe_tokens",
      (s, dir) => {
        import s.implicits._
        val pat = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"
        t(s, dir, "documents")
          .select($"lang",
            size(regexp_extract_all($"text", lit(pat), lit(0))).as("n_bpe"),
            size(split($"text", " ")).as("n_ws"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
               sum($"n_bpe").as("sum_bpe"),
               max($"n_bpe").cast("long").as("max_bpe"),
               sum($"n_ws").as("sum_ws"))
          .orderBy($"lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +'))) AS BIGINT) AS sum_bpe,
             |  CAST(max(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +'))) AS BIGINT) AS max_bpe,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- S4: stream-stream interval join — purchases joined to the
    // same user's clicks from the preceding hour, both sides watermarked
    // so the join state is bounded (clicks older than watermark + 1 h are
    // evicted; an unbounded stream-stream join would accrete state
    // forever). The append-mode sink is batch-aggregated; the oracle is
    // the equivalent batch interval join.
    Q("s4_stream_join",
      (s, dir) => {
        import s.implicits._
        val schema = s.read.parquet(s"$dir/events.parquet").schema
        val queryName = "graft_ssjoin_" + java.util.UUID.randomUUID.toString.replace("-", "")
        def mk() = {
          val st = s.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
          normTs(st)
        }
        val purchases = mk().filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("p_eid"))
          .withWatermark("p_ts", "2 hours")
        val clicks = mk().filter($"event_type" === "click")
          .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("c_eid"))
          .withWatermark("c_ts", "2 hours")
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = purchases.join(clicks,
              expr("p_user = c_user AND c_ts >= p_ts - interval 1 hour AND c_ts <= p_ts"))
            .writeStream.outputMode("append")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        s.table(queryName)
          .groupBy($"p_user".as("user_id"))
          .agg(count(lit(1)).as("n_pairs"),
               sum($"c_eid").as("sum_click_eid"),
               sum(unix_micros($"p_ts") - unix_micros($"c_ts")).as("sum_gap_us"))
          .orderBy($"user_id")
      },
      Some("""SELECT p.user_id, count(*) AS n_pairs,
             |  CAST(sum(c.event_id) AS BIGINT) AS sum_click_eid,
             |  CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS sum_gap_us
             |FROM events p JOIN events c
             |  ON p.user_id = c.user_id
             | AND p.event_type = 'purchase' AND c.event_type = 'click'
             | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- M4: multimodal resize — a REAL decoded image 2x2 mean-pooled
    // (round 6; byte-arithmetic stub through r5). The blob is a genuine
    // 32-px-wide gray PNG from the one-time fixture cache (round 7 moved
    // the encode out of the benched query — see PngFixtureCache); ImageIO
    // decodes it, then the downsample loop (gather, partial cells at
    // edges, quantized checksum) runs in imperative mapPartitions form,
    // exactly how a batch image-resize UDF runs. Pad pixels (value 0,
    // out-of-band for ASCII) are excluded from each pooled cell's mean,
    // reproducing partial-cell semantics. The ASCII payload makes every
    // pooled mean recomputable in SQL, so the whole plumbing is
    // hash-gated (same trick as m2).
    Q("m4_resize",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{ImageCodec, PngFixtureCache}
        PngFixtureCache.pngTable(s, dir)
          .select($"doc_id", $"png_32")
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            it.map { case (id, png) =>
              val (w, h, px) = ImageCodec.decodeGrayPng(png)
              val outW = 16
              val outH = (h + 1) / 2
              val sums = new Array[Long](math.max(outH * outW, 1))
              val cnts = new Array[Int](math.max(outH * outW, 1))
              var i = 0
              while (i < px.length) {
                if (px(i) != 0) {
                  val k = ((i / w) / 2) * outW + (i % w) / 2
                  sums(k) += px(i); cnts(k) += 1
                }
                i += 1
              }
              var outPx = 0; var sumQ = 0L; var k = 0
              while (k < outH * outW) {
                if (cnts(k) > 0) {
                  outPx += 1
                  val mean = sums(k).toDouble / cnts(k)
                  sumQ += math.floor(mean * 100 + 0.5).toLong
                }
                k += 1
              }
              (id, outW, outH, outPx, sumQ)
            }
          }.toDF("doc_id", "out_w", "out_h", "out_px", "sum_q")
          .orderBy($"doc_id")
      },
      Some("""WITH px AS (
             |  SELECT doc_id, CAST(unnest(range(0, len(text))) AS INT) AS i, text
             |  FROM documents),
             |cells AS (
             |  SELECT doc_id, (i//32)//2 AS r2, (i%32)//2 AS c2,
             |         sum(ord(text[i+1])) AS s, count(*) AS c
             |  FROM px GROUP BY 1, 2, 3),
             |pooled AS (
             |  SELECT doc_id, count(*) AS out_px,
             |         CAST(sum(CAST(floor(CAST(s AS DOUBLE)/c*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_q
             |  FROM cells GROUP BY 1)
             |SELECT d.doc_id, CAST(16 AS INT) AS out_w,
             |  CAST((len(d.text)+31)//32 + 1 AS INT)//2 AS out_h,
             |  CAST(COALESCE(p.out_px, 0) AS INT) AS out_px,
             |  CAST(COALESCE(p.sum_q, 0) AS BIGINT) AS sum_q
             |FROM documents d LEFT JOIN pooled p ON d.doc_id = p.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ----- M5: multimodal feature extraction — per-blob 16-bin byte
    // histogram computed imperatively per document (the batch
    // feature-extract UDF shape), emitted sparse and aggregated per
    // source. The corpus-level histogram equals DuckDB's per-byte rollup.
    Q("m5_byte_histogram",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"source", $"text".cast("binary").as("blob"))
          .as[(String, Array[Byte])]
          .mapPartitions { it =>
            it.flatMap { case (src, bytes) =>
              val hist = new Array[Long](16)
              var i = 0
              while (i < bytes.length) { hist((bytes(i) & 0xff) >> 4) += 1; i += 1 }
              (0 until 16).iterator.filter(hist(_) > 0).map(b => (src, b, hist(b)))
            }
          }.toDF("source", "bin", "n_bytes")
          .groupBy($"source", $"bin")
          .agg(sum($"n_bytes").as("n_bytes"))
          .orderBy($"source", $"bin")
      },
      Some("""SELECT source, CAST(ord(text[i+1])//16 AS INT) AS bin,
             |  count(*) AS n_bytes
             |FROM (SELECT source, text, CAST(unnest(range(0, len(text))) AS INT) AS i
             |      FROM documents)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- M8: AUDIO-modality features — the 1-D-signal member of the
    // multimodal family (m2/m4 image decode/resize, m3 video frame
    // sampling, m5/m6/m7 blob fingerprints): blob bytes as centered PCM
    // samples (s = byte − 64), non-overlapping 64-sample frames, and
    // the two classic frame features — energy Σs² and zero-crossing
    // count — plus per-blob rollups (total/peak energy, total ZCR).
    // The kernel is the real audio-UDF shape (imperative per-blob frame
    // loop in mapPartitions, integer state only); frames are the
    // windowing structure a real spectral pipeline hangs FFTs on. The
    // oracle recomputes samples, frames, energies, and sign crossings
    // from the original text in exact integers.
    Q("m8_audio_features",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id", $"text".cast("binary").as("pcm"))
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            it.map { case (id, b) =>
              val frames = b.length / 64
              var te = 0L; var zc = 0L; var peak = 0L
              var f = 0
              while (f < frames) {
                var e = 0L; var z = 0L
                var i = f * 64; val end = i + 64
                while (i < end) {
                  val v = (b(i) & 0xff) - 64
                  e += v.toLong * v
                  if (i + 1 < end) {
                    val w = (b(i + 1) & 0xff) - 64
                    if (v * w < 0) z += 1
                  }
                  i += 1
                }
                te += e; zc += z; if (e > peak) peak = e
                f += 1
              }
              (id, frames, te, zc, peak)
            }
          }.toDF("doc_id", "n_frames", "energy", "zcr", "peak_energy")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text, len(text) AS n FROM documents),
             |fr AS (SELECT doc_id, CAST(unnest(range(0, n // 64)) AS INT) AS f, text FROM d),
             |sm AS (SELECT doc_id, f, q.i, ord(text[f*64 + q.i + 1]) - 64 AS s
             |       FROM fr CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS INT) AS i) q),
             |fe AS (SELECT doc_id, f, sum(s*s) AS e,
             |         sum(CASE WHEN i < 63 AND s * lead_s < 0 THEN 1 ELSE 0 END) AS z
             |       FROM (SELECT *, lead(s) OVER (PARTITION BY doc_id, f ORDER BY i) AS lead_s
             |             FROM sm)
             |       GROUP BY 1, 2),
             |agg AS (SELECT doc_id, count(*) AS n_frames, sum(e) AS energy,
             |          sum(z) AS zcr, max(e) AS peak FROM fe GROUP BY 1)
             |SELECT d.doc_id, CAST(COALESCE(a.n_frames, 0) AS INT) AS n_frames,
             |  CAST(COALESCE(a.energy, 0) AS BIGINT) AS energy,
             |  CAST(COALESCE(a.zcr, 0) AS BIGINT) AS zcr,
             |  CAST(COALESCE(a.peak, 0) AS BIGINT) AS peak_energy
             |FROM d LEFT JOIN agg a USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // ----- T8: rolling-hash fingerprinting / content-defined chunking —
    // Rabin-Karp polynomial hash (base 31, window 8) updated in O(1) per
    // byte in an imperative mapPartitions loop (the real CDC scan shape);
    // chunk boundaries where hash % 64 == 0. Boundaries depend only on
    // local content, so edits shift chunking locally — the property CDC
    // dedup relies on. Base-31 keeps every intermediate < 2^45 (exact in
    // BIGINT and in the oracle's per-position recomputation).
    Q("t8_cdc_chunks",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id", $"text".cast("binary").as("blob"))
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            val B = 31L
            val B7 = math.pow(31, 7).toLong // 31^7, exact
            it.map { case (id, bytes) =>
              var nBnd = 0L; var sumPos = 0L
              if (bytes.length >= 8) {
                var hash = 0L
                var i = 0
                while (i < 8) { hash = hash * B + (bytes(i) & 0xff); i += 1 }
                // hash now = sum b[k]*31^(7-k) for k=0..7, window ending at i=7
                if (hash % 64 == 0) { nBnd += 1; sumPos += 7 }
                while (i < bytes.length) {
                  hash = (hash - (bytes(i - 8) & 0xff) * B7) * B + (bytes(i) & 0xff)
                  if (hash % 64 == 0) { nBnd += 1; sumPos += i }
                  i += 1
                }
              }
              (id, nBnd, sumPos)
            }
          }.toDF("doc_id", "n_bnd", "sum_pos")
          .orderBy($"doc_id")
      },
      Some("""WITH pos AS (
             |  SELECT doc_id, text, CAST(unnest(range(7, len(text))) AS INT) AS i
             |  FROM documents),
             |h AS (
             |  SELECT doc_id, i,
             |    list_sum(list_transform(range(0, 8),
             |      k -> ord(text[i - k + 1]) * CAST(pow(31, k) AS BIGINT))) AS hash
             |  FROM pos)
             |SELECT d.doc_id,
             |  CAST(COALESCE(b.n_bnd, 0) AS BIGINT) AS n_bnd,
             |  CAST(COALESCE(b.sum_pos, 0) AS BIGINT) AS sum_pos
             |FROM documents d
             |LEFT JOIN (SELECT doc_id, count(*) AS n_bnd, sum(i) AS sum_pos
             |           FROM h WHERE hash % 64 = 0 GROUP BY 1) b
             |  ON d.doc_id = b.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ----- W5: native session windows — the same gap-sessionization as
    // s2 but through Spark's built-in session_window (Catalyst-planned
    // merging session aggregation, usable in batch AND streaming), kept
    // alongside the typed flatMapGroups form to show both extremes of the
    // preference order. NOTE the boundary difference: session_window
    // starts a new session at gap >= 30 min ([start, start+gap) ranges),
    // while s2's custom break is gap > 30 min; the oracle mirrors the
    // native >= semantics.
    Q("w5_session_window",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .filter($"value".isNotNull)
          .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
          .agg(count(lit(1)).as("n_events"), sum(quant($"value", 100)).as("sum_cents"))
          .select($"user_id", unix_micros($"sw.start").as("session_start"),
                  $"n_events", $"sum_cents")
          .orderBy($"user_id", $"session_start")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
             |         CAST(floor(value*100+0.5) AS BIGINT) AS cents
             |  FROM events WHERE value IS NOT NULL),
             |g AS (SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
             |                     OR tsu - lag(tsu) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, cents)),
             |x AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tsu, cents
             |                               ROWS UNBOUNDED PRECEDING) AS sess FROM g)
             |SELECT user_id, min(tsu) AS session_start, count(*) AS n_events,
             |       CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM x GROUP BY user_id, sess
             |ORDER BY user_id, session_start""".stripMargin)),

    // ----- X3: the composed training-data pipeline — quality filter →
    // token-set fingerprint dedup (keep min doc_id per fingerprint) →
    // deterministic hash split → per-(lang, split) stats. The operators
    // proven individually (t3/t4/x1 conventions) composed the way a real
    // corpus build runs them; one oracle checks the whole chain.
    // All stages are narrow or single-shuffle: filter (no shuffle),
    // dedup (one shuffle on fingerprint), split (per-row hash), rollup.
    Q("x3_pipeline",
      (s, dir) => {
        import s.implicits._
        val bucket = conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long") % 100
        val keepRank = org.apache.spark.sql.expressions.Window
          .partitionBy($"fp").orderBy($"doc_id")
        t(s, dir, "documents")
          .withColumn("n_tok", size(split($"text", " ")))
          .filter($"n_chars" >= 100 && $"n_tok" >= 20) // quality gate
          .withColumn("fp",
            md5(array_join(array_sort(array_distinct(split($"text", " "))), " ")))
          .withColumn("rk", row_number().over(keepRank))
          .filter($"rk" === 1) // canonical doc per near-dup cluster
          .withColumn("split",
            when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
          .groupBy($"lang", $"split")
          .agg(count(lit(1)).as("n_docs"),
               sum($"n_tok").cast("long").as("sum_tokens"),
               sum($"doc_id").as("sum_ids"))
          .orderBy($"lang", $"split")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, lang, n_chars,
             |    len(string_split(text, ' ')) AS n_tok,
             |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
             |  FROM documents
             |  WHERE n_chars >= 100 AND len(string_split(text, ' ')) >= 20),
             |ddup AS (
             |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk FROM base),
             |sp AS (
             |  SELECT lang, n_tok, doc_id,
             |    CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 < 80 THEN 'train'
             |         WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 < 90 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM ddup WHERE rk = 1)
             |SELECT lang, split, count(*) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
             |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- U4: pivot — per-user event-type counts as columns (Spark
    // .pivot with an explicit value list = one pass, no value-discovery
    // job; absent combinations filled 0 to match conditional-count SQL).
    Q("u4_pivot",
      (s, dir) => {
        import s.implicits._
        val types = Seq("click", "error", "purchase", "signup", "view")
        t(s, dir, "events")
          .filter($"user_id" < 30)
          .groupBy($"user_id")
          .pivot("event_type", types)
          .agg(count(lit(1)))
          .na.fill(0L, types)
          .orderBy($"user_id")
      },
      Some("""SELECT user_id,
             |  count(*) FILTER (WHERE event_type = 'click') AS click,
             |  count(*) FILTER (WHERE event_type = 'error') AS error,
             |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
             |  count(*) FILTER (WHERE event_type = 'view') AS view
             |FROM events WHERE user_id < 30
             |GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  // ==========================================================================
  // Round 3: mixed-CRS scan (WarpedVRT-lite), median oracle
  // ==========================================================================

  private val roundThree: Seq[Q] = Seq(

    // ----- R7: mixed-CRS asset scan — ONE scan reads a native-EPSG:3857
    // asset (pure affine hop, all arithmetic exact in eighths) and a
    // native-EPSG:4326 asset (each dst center routed 3857 -> 4326 through
    // the Mercator inverse — the reference's per-asset WarpedVRT wrap,
    // `rio_reader.py:344-360`) onto one 3857 output grid. The oracle
    // replays both paths per-pixel in SQL: dst center -> (optional CRS
    // hop) -> inverse source affine -> floor -> ramp value, checksummed by
    // global position so tile windows/offsets are verified too. Validity
    // is purely floor-in-range (source edges are >0.5 px from every dst
    // center's window decision, so engine window pruning and the oracle's
    // range test agree exactly).
    Q("r7_warp_scan",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds, Proj, RasterSpec}
        import graft.scan.{AssetRow, RampReader, TileScan, WarpedGridReader}
        val spec = RasterSpec(3857, Bounds(1344000.0, 5917000.0, 1346000.0, 5919000.0), 10.0, 10.0) // 200x200
        // Asset A: native 3857, 300x300 @8m, top edge 200 m below the
        // spec's -> rows 0..19 are nodata on the same-CRS path.
        val aTf = AffineTransform.northUp(1343800.0, 5918800.0, 8.0, 8.0)
        // Asset B: native 4326, 50x70 @0.0002 deg (lon 12.076..12.090,
        // lat 46.847..46.857), strictly inside the spec's lat/lon
        // footprint -> warped interior rectangle with nodata border.
        val bTf = AffineTransform.northUp(12.076, 46.857, 0.0002, 0.0002)
        val bEnv = Proj.reprojectBounds(Bounds(12.076, 46.847, 12.090, 46.857), 4326, 3857)
        val assets = Seq(
          AssetRow(0, 0, "gray", 0L, "ramp3857://a",
                   1343800.0, 5916400.0, 1346200.0, 5918800.0, 1.0, 0.0, epsg = 3857),
          AssetRow(1, 0, "gray", 1000000L, "ramp4326://b",
                   bEnv.minx, bEnv.miny, bEnv.maxx, bEnv.maxy, 1.0, 0.0, epsg = 4326))
        val readers: AssetRow => graft.scan.Reader = a =>
          if (a.epsg == 3857) WarpedGridReader(RampReader(300), aTf, 3857, 300, 300, spec)
          else                WarpedGridReader(RampReader(70),  bTf, 4326, 50, 70, spec)
        TileScan.scan(s, assets, spec, chunk = 100, readerFor = readers)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 100 + t.rowOff + r
              val gc = t.xChunk * 100 + t.colOff + c
              (t.itemIdx, t.yChunk, t.xChunk, v.toLong, gr.toLong * 200 + gc)
            }
          }
          .toDF("item_idx", "y_chunk", "x_chunk", "v", "pos")
          .groupBy($"item_idx", $"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"v").as("sum_v"),
               sum($"v" * $"pos").as("pos_chk"))
          .orderBy($"item_idx", $"y_chunk", $"x_chunk")
      },
      // e-notation literals parse as DOUBLE in DuckDB (decimal literals
      // stay DECIMAL; decimal division promotes to DOUBLE) — the affine-
      // inverse constants below mirror AffineTransform.inverse's exact
      // double expressions term by term, like r3/r6.
      Some("""WITH px AS (SELECT r, c FROM range(0,200) t(r) CROSS JOIN range(0,200) u(c)),
             |m AS (SELECT r, c,
             |        10.0*(c + 0.5) + 0.0*(r + 0.5) + 1344000.0 AS wx,
             |        0.0*(c + 0.5) + (-10.0)*(r + 0.5) + 5919000.0 AS wy
             |      FROM px),
             |a0 AS (SELECT r, c,
             |        floor(0.125*wx + 0.0*wy + (-167975.0)) AS cc,
             |        floor(0.0*wx + (-0.125)*wy + 739850.0) AS rr
             |       FROM m),
             |v0 AS (SELECT 0 AS item_idx, r, c,
             |        CAST(rr AS BIGINT)*300 + CAST(cc AS BIGINT) AS v
             |       FROM a0 WHERE rr >= 0 AND rr < 300 AND cc >= 0 AND cc < 300),
             |ll AS (SELECT r, c,
             |        CAST(wx AS DOUBLE) / 6378137.0 / (pi()/180.0) AS lon,
             |        (2.0*atan(exp(CAST(wy AS DOUBLE) / 6378137.0)) - pi()/2.0) / (pi()/180.0) AS lat
             |       FROM m),
             |a1 AS (SELECT r, c,
             |        floor(((-2e-4)/(2e-4*(-2e-4)))*lon + 0.0*lat + (-(((-2e-4)/(2e-4*(-2e-4)))*12.076e0))) AS cc,
             |        floor(0.0*lon + ((2e-4)/(2e-4*(-2e-4)))*lat + (-(((2e-4)/(2e-4*(-2e-4)))*46.857e0))) AS rr
             |       FROM ll),
             |v1 AS (SELECT 1 AS item_idx, r, c,
             |        CAST(rr AS BIGINT)*70 + CAST(cc AS BIGINT) AS v
             |       FROM a1 WHERE rr >= 0 AND rr < 50 AND cc >= 0 AND cc < 70),
             |u AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
             |SELECT CAST(item_idx AS INT) AS item_idx,
             |  CAST(r//100 AS INT) AS y_chunk, CAST(c//100 AS INT) AS x_chunk,
             |  count(*) AS n_px,
             |  CAST(sum(v) AS BIGINT) AS sum_v,
             |  CAST(sum(v * (r*200 + c)) AS BIGINT) AS pos_chk
             |FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ----- MD1: per-pixel temporal MEDIAN per calendar month — the
    // reference's flagship composite (`docs/basic.ipynb` cell 10,
    // `.resample(time="MS").median("time")`), oracle-gated. Six ramp
    // scenes whose only difference is a per-item rescale offset of
    // i*10000; both months have an EVEN scene count (2 and 4), so the
    // linear interpolation between the middle order statistics is
    // exercised and lands on exact integers ((0+10000)/2, (30000+40000)/2)
    // the oracle states in closed form. Checksummed by global position so
    // tile placement is verified too.
    Q("md1_median",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.scan.{AssetRow, RampReader, TileScan}
        val spec = RasterSpec(32633, Bounds(0, 0, 1280, 1280), 10.0, 10.0) // 128x128
        val dates = Seq("2024-06-03", "2024-06-21",
                        "2024-07-02", "2024-07-09", "2024-07-18", "2024-07-30")
        val assets = dates.zipWithIndex.map { case (d, i) =>
          AssetRow(i, 0, "b", graft.stac.Stac.parseDatetimeMicros(d + "T00:00:00Z"),
                   s"ramp://$i", 0, 0, 1280, 1280, 1.0, i * 10000.0)
        }
        val tiles = TileScan.scan(s, assets, spec, chunk = 64,
          readerFor = _ => RampReader(128))
        graft.ops.Median.temporal(tiles, 64, micros => {
          val inst = java.time.Instant.ofEpochSecond(micros / 1000000L)
          java.time.ZonedDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
            .withDayOfMonth(1).toLocalDate.atStartOfDay(java.time.ZoneOffset.UTC)
            .toInstant.getEpochSecond * 1000000L
        })
          .flatMap { case (period, ct) =>
            for {
              r <- 0 until ct.height; c <- 0 until ct.width
              v = ct.pixels(r * ct.width + c) if !v.isNaN
            } yield {
              val gr = ct.yChunk * 64 + r; val gc = ct.xChunk * 64 + c
              (period / 1000000L, ct.yChunk, ct.xChunk, v.toLong, (gr.toLong * 128 + gc))
            }
          }
          .toDF("period_s", "y_chunk", "x_chunk", "v", "pos")
          .groupBy($"period_s", $"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"v").as("sum_med"),
               sum($"v" * $"pos").as("pos_chk"))
          .orderBy($"period_s", $"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,128) t(r) CROSS JOIN range(0,128) u(c)),
             |pd AS (SELECT * FROM (VALUES
             |         (CAST(epoch_us(TIMESTAMP '2024-06-01 00:00:00')//1000000 AS BIGINT), 5000),
             |         (CAST(epoch_us(TIMESTAMP '2024-07-01 00:00:00')//1000000 AS BIGINT), 35000))
             |       v(period_s, d))
             |SELECT period_s, CAST(r//64 AS INT) AS y_chunk, CAST(c//64 AS INT) AS x_chunk,
             |  count(*) AS n_px,
             |  CAST(sum(r*128 + c + d) AS BIGINT) AS sum_med,
             |  CAST(sum((r*128 + c + d) * (r*128 + c)) AS BIGINT) AS pos_chk
             |FROM px CROSS JOIN pd
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ----- X4: near-dup CLUSTER formation — the step after pairwise dedup
    // (d2/d4/d5 emit pairs; a 100 TB corpus needs keep-one groups).
    // Distributed connected components (hash-min + pointer jumping, two
    // shuffle joins per round, O(log diameter) rounds, no driver graph
    // state) over CHAIN edges: consecutive doc_ids per fingerprint, so a
    // k-dup group is a path the label must walk multi-hop — the oracle
    // knows the answer a second way (components of a fingerprint-chain
    // graph ARE the fingerprint groups) without needing recursive SQL.
    Q("x4_dup_clusters",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id",
            md5(array_join(array_sort(array_distinct(split($"text", " "))), " ")).as("fp"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"fp").orderBy($"doc_id")
        val edges = docs.withColumn("prev", lag($"doc_id", 1).over(w))
          .filter($"prev".isNotNull)
          .select($"prev".as("id_a"), $"doc_id".as("id_b"))
        // the CC rounds execute eagerly (localCheckpoint per round); at
        // this edge count the per-stage task overhead dominates, so scope
        // the shuffle width down like the one-batch streaming queries do
        val comp = withStreamPartitions(s, 8) {
          graft.dedup.Dedup.connectedComponents(edges)
        }
        docs.join(comp, docs("doc_id") === comp("node"), "left")
          .select(coalesce($"component", $"doc_id").as("component"))
          .groupBy($"component").agg(count(lit(1)).as("sz"))
          .groupBy($"sz")
          .agg(count(lit(1)).as("n_clusters"), sum($"component").as("sum_rep"))
          .orderBy($"sz")
      },
      Some("""WITH f AS (SELECT doc_id,
             |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp
             |  FROM documents),
             |g AS (SELECT fp, count(*) AS sz, min(doc_id) AS rep FROM f GROUP BY fp)
             |SELECT sz, count(*) AS n_clusters, CAST(sum(rep) AS BIGINT) AS sum_rep
             |FROM g GROUP BY sz ORDER BY sz""".stripMargin)),

    // ----- X29: frequency cap per source (Sample.capPerGroup) — the
    // hot-domain downsampling a crawl pipeline applies (at most `cap`
    // docs per source), selected in x2's deterministic hash order but
    // executed through o4's bounded-state top-k aggregator instead of a
    // corpus-shuffling window: map-side partials ship ≤ groups×cap
    // pairs, kept rows return by equi-join. The oracle replays the
    // hash ranking + cap + census.
    Q("x29_source_cap",
      (s, dir) => {
        import s.implicits._
        graft.ops.Sample.capPerGroup(
            t(s, dir, "documents"), Seq("source"), $"doc_id", cap = 10)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("id_sum"))
          .orderBy($"source")
      },
      Some("""WITH r AS (SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT, doc_id) AS rn
             |  FROM documents)
             |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM r WHERE rn <= 10 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X28: integer PageRank over the dup graph (graph.PageRank) —
    // the second graph primitive beside x4's connected components:
    // components say WHICH docs cluster, centrality says which member
    // is the HUB (the canonical-representative choice that beats
    // min-id when clusters are stars/chains of variants). Exact-integer
    // power iteration: micro-unit ranks, per-round floor divisions
    // (pmod discipline), fixed 3 rounds — the oracle unrolls all three
    // rounds in SQL and replays edge build → degrees → every round →
    // final ranks bit-for-bit.
    Q("x28_pagerank",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id",
            md5(array_join(array_sort(array_distinct(split($"text", " "))), " ")).as("fp"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"fp").orderBy($"doc_id")
        val edges = docs.withColumn("prev", lag($"doc_id", 1).over(w))
          .filter($"prev".isNotNull)
          .select($"prev".as("a"), $"doc_id".as("b"))
        val ranks = withStreamPartitions(s, 8) {
          graft.graph.PageRank.integerRanks(edges, rounds = 3)
        }
        ranks.orderBy($"node")
      },
      Some("""WITH f AS (SELECT doc_id,
             |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp
             |  FROM documents),
             |e0 AS (SELECT doc_id, lag(doc_id) OVER (PARTITION BY fp ORDER BY doc_id) AS prev FROM f),
             |ed AS (SELECT prev AS a, doc_id AS b FROM e0 WHERE prev IS NOT NULL),
             |sym AS (SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed),
             |deg AS (SELECT a, count(*) AS deg FROM sym GROUP BY 1),
             |r0 AS (SELECT a AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
             |c1 AS (SELECT s.b AS node, r.rank // d.deg AS c
             |       FROM sym s JOIN r0 r ON r.node = s.a JOIN deg d ON d.a = s.a),
             |r1 AS (SELECT deg.a AS node,
             |         150000 + (COALESCE(t.s, 0) * 850000) // 1000000 AS rank
             |       FROM deg LEFT JOIN (SELECT node, sum(c) AS s FROM c1 GROUP BY 1) t
             |         ON t.node = deg.a),
             |c2 AS (SELECT s.b AS node, r.rank // d.deg AS c
             |       FROM sym s JOIN r1 r ON r.node = s.a JOIN deg d ON d.a = s.a),
             |r2 AS (SELECT deg.a AS node,
             |         150000 + (COALESCE(t.s, 0) * 850000) // 1000000 AS rank
             |       FROM deg LEFT JOIN (SELECT node, sum(c) AS s FROM c2 GROUP BY 1) t
             |         ON t.node = deg.a),
             |c3 AS (SELECT s.b AS node, r.rank // d.deg AS c
             |       FROM sym s JOIN r2 r ON r.node = s.a JOIN deg d ON d.a = s.a),
             |r3 AS (SELECT deg.a AS node,
             |         150000 + (COALESCE(t.s, 0) * 850000) // 1000000 AS rank
             |       FROM deg LEFT JOIN (SELECT node, sum(c) AS s FROM c3 GROUP BY 1) t
             |         ON t.node = deg.a)
             |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY node""".stripMargin)),

    // ----- X5: the FULL near-dup removal chain, oracle-gated end to end —
    // Dedup.dedupCorpus (LSH pairs -> connected components -> keep min-id
    // rep -> anti-join) against a DuckDB replay that recomputes the
    // identical verified pair set (d2's signature/banding/jaccard CTEs at
    // threshold 0.95) and then resolves the clusters with a RECURSIVE
    // transitive closure — so unlike x4's chain-edge trick, the oracle
    // here solves CC on the arbitrary pair graph a second, independent
    // way. The result pins the exact survivor set (count + id sum +
    // extremes).
    Q("x5_dedup_corpus",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val kept = withStreamPartitions(s, 8) {
          graft.dedup.Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.95)
        }
        kept.agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept"),
                 min($"doc_id").as("min_kept"), max($"doc_id").as("max_kept"))
      },
      Some("""WITH RECURSIVE toks AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
             |sig AS (
             |  SELECT doc_id,
             |    min(md5('0|'||tok)) AS h0, min(md5('1|'||tok)) AS h1,
             |    min(md5('2|'||tok)) AS h2, min(md5('3|'||tok)) AS h3,
             |    min(md5('4|'||tok)) AS h4, min(md5('5|'||tok)) AS h5,
             |    min(md5('6|'||tok)) AS h6, min(md5('7|'||tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0||h1||h2||h3) AS key FROM sig UNION ALL
             |  SELECT doc_id, 1, md5(h4||h5||h6||h7) FROM sig),
             |roots AS (
             |  SELECT band, key, min(doc_id) AS root FROM bands
             |  GROUP BY 1, 2 HAVING count(*) > 1),
             |cand AS (
             |  SELECT DISTINCT r.root AS id_a, b.doc_id AS id_b
             |  FROM bands b JOIN roots r ON b.band = r.band AND b.key = r.key
             |  WHERE b.doc_id != r.root),
             |sets AS (SELECT doc_id, list_distinct(list_transform(string_split(text,' '),
             |           tok -> ('0x'||substr(md5(tok),1,15))::BIGINT)) AS st FROM documents),
             |pairs AS (
             |  SELECT id_a, id_b
             |  FROM cand JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
             |  WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |        / (len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st))) >= 0.95),
             |sym AS (
             |  SELECT id_a AS a, id_b AS b FROM pairs
             |  UNION SELECT id_b, id_a FROM pairs),
             |reach AS (
             |  SELECT a, b FROM sym
             |  UNION
             |  SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a
             |  WHERE reach.a != sym.b),
             |labels AS (SELECT a AS node, least(a, min(b)) AS label FROM reach GROUP BY a),
             |losers AS (SELECT node FROM labels WHERE label < node)
             |SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_kept,
             |  CAST(min(doc_id) AS BIGINT) AS min_kept, CAST(max(doc_id) AS BIGINT) AS max_kept
             |FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)""".stripMargin)),

    // ----- S15: streaming CDC apply — x26's MERGE in deploy mode: a
    // snapshot maintained against a live changeset stream (the standard
    // CDC-consumer shape). Three staged changeset files arrive in
    // pinned order (maxFilesPerTrigger=1, the s12 discipline); each
    // micro-batch applies Merge.applyChangeset to the running snapshot
    // with an eager localCheckpoint (the s9 growing-state pattern —
    // per-batch work is O(snapshot + batch), history never replayed
    // through lineage). Order MATTERS (wave 3 re-upserts ids wave 2
    // deleted) and the oracle replays the three sequential merges
    // exactly, gating the final snapshot census.
    Q("s15_stream_cdc",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val snap0 = docs.filter(pmod($"doc_id", lit(7L)) =!= 0L)
          .select($"doc_id", $"text")
        val w1 = docs.filter(pmod($"doc_id", lit(5L)) === 0L)
          .select(lit("upsert").as("op"), $"doc_id", upper($"text").as("text"))
        val w2 = docs.filter(pmod($"doc_id", lit(9L)) === 0L)
          .select(lit("delete").as("op"), $"doc_id", lit("").as("text"))
        val w3 = docs.filter(pmod($"doc_id", lit(11L)) === 0L)
          .select(lit("upsert").as("op"), $"doc_id",
            concat($"text", lit(" v3")).as("text"))
        val tmpRoot = java.nio.file.Files.createTempDirectory("graft_s15_")
        val inDir = tmpRoot.resolve("in"); java.nio.file.Files.createDirectories(inDir)
        def writeWave(df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
          val stage = tmpRoot.resolve(s"stage$k").toString
          df.coalesce(1).write.parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = inDir.resolve(s"wave$k.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          dst.toFile.setLastModified(1700000000000L + k * 60000L)
        }
        writeWave(w1, 1); writeWave(w2, 2); writeWave(w3, 3)
        var snapshot = snap0.localCheckpoint(true)
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = s.readStream.schema(w1.schema)
            .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
            .writeStream.outputMode("append")
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              snapshot = graft.ops.Merge
                .applyChangeset(snapshot, batch, "doc_id", "op")
                .localCheckpoint(true)
            }.start()
          q.processAllAvailable(); q.stop()
        } }
        snapshot.agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("id_sum"),
          sum(length($"text")).as("len_sum"))
      },
      Some("""WITH a0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
             |w1 AS (SELECT 'upsert' AS op, doc_id, upper(text) AS text
             |       FROM documents WHERE doc_id % 5 = 0),
             |w2 AS (SELECT 'delete' AS op, doc_id, '' AS text
             |       FROM documents WHERE doc_id % 9 = 0),
             |w3 AS (SELECT 'upsert' AS op, doc_id, text || ' v3' AS text
             |       FROM documents WHERE doc_id % 11 = 0),
             |s1 AS (SELECT coalesce(c.doc_id, s.doc_id) AS doc_id,
             |              CASE WHEN c.op = 'upsert' THEN c.text ELSE s.text END AS text
             |       FROM a0 s FULL OUTER JOIN w1 c ON s.doc_id = c.doc_id
             |       WHERE NOT coalesce(c.op = 'delete', false)),
             |s2 AS (SELECT coalesce(c.doc_id, s.doc_id) AS doc_id,
             |              CASE WHEN c.op = 'upsert' THEN c.text ELSE s.text END AS text
             |       FROM s1 s FULL OUTER JOIN w2 c ON s.doc_id = c.doc_id
             |       WHERE NOT coalesce(c.op = 'delete', false)),
             |s3 AS (SELECT coalesce(c.doc_id, s.doc_id) AS doc_id,
             |              CASE WHEN c.op = 'upsert' THEN c.text ELSE s.text END AS text
             |       FROM s2 s FULL OUTER JOIN w3 c ON s.doc_id = c.doc_id
             |       WHERE NOT coalesce(c.op = 'delete', false))
             |SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  CAST(sum(len(text)) AS BIGINT) AS len_sum FROM s3""".stripMargin)),

    // ----- S16: streaming LEADERBOARD — bounded top-k as STREAM state
    // (o4's aggregator meeting mapGroupsWithState): per event type,
    // keep the running top-3 purchases by cents plus a seen-counter.
    // State per key is k pairs + one long — bounded at any stream
    // length — and a top-k SET is arrival-order-independent (same k
    // best whatever the interleaving), so the staged 3-wave arrival
    // (s12 discipline) must land on the batch answer exactly. Update
    // mode emits per touched key per trigger; the final answer is the
    // max-n_seen row per key, gated by the batch top-3 oracle.
    Q("s16_stream_leaderboard",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.GroupStateTimeout
        val base = t(s, dir, "events")
        val tmpRoot = java.nio.file.Files.createTempDirectory("graft_s16_")
        val inDir = tmpRoot.resolve("in"); java.nio.file.Files.createDirectories(inDir)
        def writeWave(df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
          val stage = tmpRoot.resolve(s"stage$k").toString
          df.coalesce(1).write.parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = inDir.resolve(s"wave$k.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          dst.toFile.setLastModified(1700000000000L + k * 60000L)
        }
        val slim = base.select($"event_type", $"event_id", quant($"value", 100).as("cents"))
        (0 until 3).foreach(w => writeWave(slim.filter(pmod($"event_id", lit(3L)) === w), w + 1))
        val queryName = "graft_lb_" + java.util.UUID.randomUUID.toString.replace("-", "")
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = s.readStream.schema(slim.schema)
            .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
            .as[(String, Long, Long)]
            .groupByKey(_._1)
            .mapGroupsWithState[(Long, Seq[(Long, Long)]), (String, Long, String)](
              GroupStateTimeout.NoTimeout) { (key, rows, state) =>
              val (n0, top0) = state.getOption.getOrElse((0L, Seq.empty[(Long, Long)]))
              var n = n0; var top = top0
              rows.foreach { case (_, id, cents) =>
                n += 1
                top = ((-cents, id) +: top).sorted.take(3)
              }
              state.update((n, top))
              (key, n, top.map(_._2).mkString(","))
            }
            .toDF("event_type", "n_seen", "top_ids")
            .writeStream.outputMode("update")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"event_type").orderBy($"n_seen".desc)
        s.table(queryName)
          .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"event_type", $"n_seen", $"top_ids")
          .orderBy($"event_type")
      },
      Some("""WITH e AS (SELECT event_type, event_id,
             |         CAST(floor(value*100+0.5) AS BIGINT) AS cents FROM events),
             |rk AS (SELECT event_type, event_id,
             |         row_number() OVER (PARTITION BY event_type
             |           ORDER BY cents DESC, event_id) AS rn FROM e),
             |top AS (SELECT event_type,
             |          string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS top_ids
             |        FROM rk WHERE rn <= 3 GROUP BY 1),
             |cnt AS (SELECT event_type, count(*) AS n_seen FROM e GROUP BY 1)
             |SELECT c.event_type, CAST(c.n_seen AS BIGINT) AS n_seen, t.top_ids
             |FROM cnt c JOIN top t USING (event_type) ORDER BY 1""".stripMargin)),

    // ----- W6: time-decayed aggregation (freshness weighting) — the
    // recency-weighted score a curation pipeline attaches to sources
    // (fresh activity counts more than stale), built ORDER-FREE: a
    // running EMA is a sequential recursion no shuffle can replay, but
    // the decayed sum Σ v_i·decay(age_i) is commutative, and choosing
    // half-life decay on whole-day ages makes every term an integer
    // RIGHT SHIFT (v >> age_days — a dyadic weight, no float anywhere):
    // map-side-combined groupBy, bit-exact in any engine, no IEEE
    // exp()/summation-order hazard at all. Shift capped at 40 (a
    // >40-day-old cent is worth 0 anyway).
    Q("w6_decay",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val mx = ev.agg(max(unix_micros($"ts")).as("mt"))
        val ageUs = $"mt" - unix_micros($"ts")
        ev.crossJoin(broadcast(mx))
          .withColumn("cents", quant($"value", 100))
          .withColumn("age_d", least(lit(40L),
            ((ageUs - pmod(ageUs, lit(86400000000L))) / lit(86400000000L)).cast("long")))
          .withColumn("dec", expr("shiftright(cents, cast(age_d as int))"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n"), sum($"dec").as("decayed_cents"))
          .orderBy($"user_id")
      },
      Some("""WITH mx AS (SELECT max(epoch_us(ts)) AS mt FROM events),
             |d AS (SELECT user_id,
             |        CAST(floor(value*100+0.5) AS BIGINT) >>
             |          least(40, CAST((mx.mt - epoch_us(ts)) // 86400000000 AS BIGINT)) AS dec
             |      FROM events CROSS JOIN mx)
             |SELECT user_id, count(*) AS n, CAST(sum(dec) AS BIGINT) AS decayed_cents
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X27: LEAKAGE-SAFE train/test split — the split nobody ships
    // without after near-dup analysis: a plain hash split leaks
    // train→test through near-duplicate pairs (the benchmark-inflation
    // failure decontamination papers document), so the unit of
    // assignment must be the DUP CLUSTER, not the document. Chain:
    // verified star edges (x5's LSH at 0.95) → connected components →
    // every member inherits its cluster representative's hash split —
    // leakage-free BY CONSTRUCTION, and the query also COMPUTES the
    // mixed-cluster count (0) rather than asserting it. The oracle
    // re-solves the pair graph with x5's independent recursive closure
    // and replays rep → hash split → census.
    Q("x27_leakage_split",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val edges = graft.dedup.Dedup.minhashStarEdges(
            docs, "doc_id", "text", threshold = 0.95)
          .select($"id_a", $"id_b")
        val comp = withStreamPartitions(s, 8) {
          graft.dedup.Dedup.connectedComponents(edges)
        }
        val withRep = docs.select($"doc_id")
          .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .select($"doc_id", coalesce($"component", $"doc_id").as("rep"))
        val split = withRep.withColumn("split",
          when(pmod(graft.sketch.Kmv.hash60($"rep"), lit(10L)) < 8, "train")
            .otherwise("test"))
        val mixed = split.groupBy($"rep")
          .agg(countDistinct($"split").as("ns"))
          .agg(sum(when($"ns" > 1, 1L).otherwise(0L)).as("mixed_clusters"))
        split.groupBy($"split")
          .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("id_sum"))
          .crossJoin(broadcast(mixed))
          .orderBy($"split")
      },
      Some("""WITH RECURSIVE toks AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
             |sig AS (
             |  SELECT doc_id,
             |    min(md5('0|'||tok)) AS h0, min(md5('1|'||tok)) AS h1,
             |    min(md5('2|'||tok)) AS h2, min(md5('3|'||tok)) AS h3,
             |    min(md5('4|'||tok)) AS h4, min(md5('5|'||tok)) AS h5,
             |    min(md5('6|'||tok)) AS h6, min(md5('7|'||tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0||h1||h2||h3) AS key FROM sig UNION ALL
             |  SELECT doc_id, 1, md5(h4||h5||h6||h7) FROM sig),
             |roots AS (
             |  SELECT band, key, min(doc_id) AS root FROM bands
             |  GROUP BY 1, 2 HAVING count(*) > 1),
             |cand AS (
             |  SELECT DISTINCT r.root AS id_a, b.doc_id AS id_b
             |  FROM bands b JOIN roots r ON b.band = r.band AND b.key = r.key
             |  WHERE b.doc_id != r.root),
             |sets AS (SELECT doc_id, list_distinct(list_transform(string_split(text,' '),
             |           tok -> ('0x'||substr(md5(tok),1,15))::BIGINT)) AS st FROM documents),
             |pairs AS (
             |  SELECT id_a, id_b
             |  FROM cand JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
             |  WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |        / (len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st))) >= 0.95),
             |sym AS (
             |  SELECT id_a AS a, id_b AS b FROM pairs
             |  UNION SELECT id_b, id_a FROM pairs),
             |reach AS (
             |  SELECT a, b FROM sym
             |  UNION
             |  SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a
             |  WHERE reach.a != sym.b),
             |labels AS (SELECT a AS node, least(a, min(b)) AS label FROM reach GROUP BY a),
             |rep AS (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS rep
             |        FROM documents d LEFT JOIN labels l ON l.node = d.doc_id),
             |sp AS (SELECT doc_id, rep,
             |         CASE WHEN ('0x'||substr(md5(rep::VARCHAR),1,15))::BIGINT % 10 < 8
             |              THEN 'train' ELSE 'test' END AS split FROM rep),
             |mixed AS (SELECT count(*) AS mixed_clusters FROM (
             |    SELECT rep FROM sp GROUP BY rep HAVING count(DISTINCT split) > 1))
             |SELECT split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  CAST(m.mixed_clusters AS BIGINT) AS mixed_clusters
             |FROM sp CROSS JOIN mixed m GROUP BY split, m.mixed_clusters
             |ORDER BY split""".stripMargin)),

    // ----- R8: bilinear warp scan, hash-gated EXACTLY — r7's same-CRS
    // fixture (10 m spec over an 8 m source) puts every fractional source
    // coordinate on an exact eighth, so the bilinear weights (.125/.375/
    // .625/.875) and the 4-point interpolation of integer ramp values are
    // exact multiples of 1/64: quantizing by *64 yields integers both
    // engines state bit-for-bit (no transcendental term anywhere). The
    // oracle replays center->affine->floor(f-0.5)->weights->interpolate
    // term by term in Reproject's expression order.
    Q("r8_warp_bilinear",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds, RasterSpec}
        import graft.scan.{AssetRow, RampReader, TileScan, WarpedGridReader}
        val spec = RasterSpec(3857, Bounds(1344000.0, 5917000.0, 1346000.0, 5919000.0), 10.0, 10.0)
        val aTf = AffineTransform.northUp(1343800.0, 5918800.0, 8.0, 8.0) // 300x300 @8m
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "ramp3857://a",
          1343800.0, 5916400.0, 1346200.0, 5918800.0, 1.0, 0.0, epsg = 3857))
        val tiles = TileScan.scan(s, assets, spec, chunk = 100,
          readerFor = _ => WarpedGridReader(RampReader(300), aTf, 3857, 300, 300, spec,
            graft.ops.Resampling.Bilinear))
        tiles.flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 100 + t.rowOff + r
              val gc = t.xChunk * 100 + t.colOff + c
              (t.yChunk, t.xChunk, (v * 64).toLong, gr.toLong * 200 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,200) t(r) CROSS JOIN range(0,200) u(c)),
             |m AS (SELECT r, c,
             |        10.0*(c + 0.5) + 0.0*(r + 0.5) + 1344000.0 AS wx,
             |        0.0*(c + 0.5) + (-10.0)*(r + 0.5) + 5919000.0 AS wy
             |      FROM px),
             |f AS (SELECT r, c,
             |        (0.125*wx + 0.0*wy + (-167975.0)) - 0.5 AS gc,
             |        (0.0*wx + (-0.125)*wy + 739850.0) - 0.5 AS gr
             |       FROM m),
             |w AS (SELECT r, c,
             |        CAST(floor(gr) AS BIGINT) AS r0, CAST(floor(gc) AS BIGINT) AS c0,
             |        gr - floor(gr) AS wr, gc - floor(gc) AS wc
             |       FROM f),
             |v AS (SELECT r, c,
             |        ((r0*300 + c0) * (1 - wr) * (1 - wc)
             |         + (r0*300 + (c0+1)) * (1 - wr) * wc
             |         + ((r0+1)*300 + c0) * wr * (1 - wc)
             |         + ((r0+1)*300 + (c0+1)) * wr * wc) AS bv
             |       FROM w
             |       WHERE r0 >= 0 AND r0 + 1 < 300 AND c0 >= 0 AND c0 + 1 < 300),
             |q AS (SELECT r, c, CAST(bv*64 AS BIGINT) AS q FROM v)
             |SELECT CAST(r//100 AS INT) AS y_chunk, CAST(c//100 AS INT) AS x_chunk,
             |  count(*) AS n_px,
             |  CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*200 + c)) AS BIGINT) AS pos_chk
             |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- V6: k-means IVF TRAINING (Lloyd, 2 fixed rounds, k=8) — v4
    // assumed labels as the coarse quantizer; this learns one. Integer
    // squared-L2 assignment with (dist, cid) tiebreak and integer-rounded
    // centroid updates make every round engine-exact, so DuckDB replays
    // init -> assign -> update -> assign -> update -> final assign and the
    // cluster sizes, member-id sums, and dim-weighted centroid checksums
    // hash-match. Scale shape: per round one broadcast join (k x 64
    // centroid table) + one groupBy — no n^2 anywhere.
    Q("v6_kmeans_ivf",
      (s, dir) => {
        import s.implicits._
        val prepared = graft.ann.Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val out = graft.ann.Ann.kmeans(prepared, k = 8, iters = 2)
        val chk = aggregate(
          zip_with($"cv", sequence(lit(1L), lit(64L)), (c, d) => c * d),
          lit(0L), (acc, x) => acc + x)
        out.select($"cid".cast("int").as("cid"), $"id", chk.as("chk"))
          .groupBy($"cid")
          .agg(count(lit(1)).as("n"), sum($"id").as("sum_vid"),
               max($"chk").as("cen_chk"))
          .orderBy($"cid")
      },
      Some("""WITH q AS (SELECT vec_id AS id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, qv AS cv
             |       FROM q ORDER BY id LIMIT 8),
             |dim AS (SELECT CAST(i AS INT) AS d FROM range(0,64) t(i)),
             |e1 AS (SELECT q.id, c0.cid,
             |         sum((q.qv[d+1]-c0.cv[d+1])*(q.qv[d+1]-c0.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c0 CROSS JOIN dim GROUP BY q.id, c0.cid),
             |a1 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e1)
             |       WHERE rn = 1),
             |u1 AS (SELECT a1.cid, d,
             |         CAST(floor(CAST(sum(q.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM a1 JOIN q USING (id) CROSS JOIN dim GROUP BY a1.cid, d),
             |c1 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u1 GROUP BY cid
             |       UNION ALL
             |       SELECT c0.cid, c0.cv FROM c0 WHERE c0.cid NOT IN (SELECT cid FROM u1)),
             |e2 AS (SELECT q.id, c1.cid,
             |         sum((q.qv[d+1]-c1.cv[d+1])*(q.qv[d+1]-c1.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c1 CROSS JOIN dim GROUP BY q.id, c1.cid),
             |a2 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e2)
             |       WHERE rn = 1),
             |u2 AS (SELECT a2.cid, d,
             |         CAST(floor(CAST(sum(q.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM a2 JOIN q USING (id) CROSS JOIN dim GROUP BY a2.cid, d),
             |c2 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u2 GROUP BY cid
             |       UNION ALL
             |       SELECT c1.cid, c1.cv FROM c1 WHERE c1.cid NOT IN (SELECT cid FROM u2)),
             |e3 AS (SELECT q.id, c2.cid,
             |         sum((q.qv[d+1]-c2.cv[d+1])*(q.qv[d+1]-c2.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c2 CROSS JOIN dim GROUP BY q.id, c2.cid),
             |a3 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e3)
             |       WHERE rn = 1),
             |chk AS (SELECT cid, CAST(sum(cv[d+1]*(d+1)) AS BIGINT) AS cen_chk
             |        FROM c2 CROSS JOIN dim GROUP BY cid)
             |SELECT CAST(a3.cid AS INT) AS cid, count(*) AS n,
             |  CAST(sum(a3.id) AS BIGINT) AS sum_vid, chk.cen_chk
             |FROM a3 JOIN chk USING (cid)
             |GROUP BY a3.cid, chk.cen_chk ORDER BY 1""".stripMargin)),

    // ----- V8: incremental IVF admission — the daily-ingest path for a
    // vector index (the ANN twin of x10's incremental dedup): the coarse
    // quantizer trains ONCE on the accumulated corpus (ids % 5 != 0),
    // then the new batch (ids % 5 == 0) is admitted by nearest-centroid
    // assignment against the FIXED index — one broadcast of the k×dim
    // centroid table + a map-side argmin; no retrain, no shuffle of
    // stored postings, existing assignments untouched. cen_chk pins that
    // the centroids really are the trained ones (a retrain would move
    // them, because the new batch would join the mean). Oracle: v6's
    // SQL k-means replay restricted to the old slice, plus one
    // assignment pass of the new slice against the trained c2.
    Q("v8_ivf_admit",
      (s, dir) => {
        import s.implicits._
        val prepared = graft.ann.Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val trained = graft.ann.Ann.kmeans(prepared.filter($"id" % 5 =!= 0), k = 8, iters = 2)
        val centroids = trained.select($"cid", $"cv").distinct()
        val admitted = graft.ann.Ann.assign(prepared.filter($"id" % 5 === 0), centroids)
        val chk = aggregate(
          zip_with($"cv", sequence(lit(1L), lit(64L)), (c, d) => c * d),
          lit(0L), (acc, x) => acc + x)
        admitted.join(centroids, Seq("cid"))
          .select($"cid".cast("int").as("cid"), $"id", chk.as("chk"))
          .groupBy($"cid")
          .agg(count(lit(1)).as("n_new"), sum($"id").as("sum_vid"),
               max($"chk").as("cen_chk"))
          .orderBy($"cid")
      },
      Some("""WITH q AS (SELECT vec_id AS id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |qo AS (SELECT * FROM q WHERE id % 5 <> 0),
             |qn AS (SELECT * FROM q WHERE id % 5 = 0),
             |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, qv AS cv
             |       FROM qo ORDER BY id LIMIT 8),
             |dim AS (SELECT CAST(i AS INT) AS d FROM range(0,64) t(i)),
             |e1 AS (SELECT qo.id, c0.cid,
             |         sum((qo.qv[d+1]-c0.cv[d+1])*(qo.qv[d+1]-c0.cv[d+1])) AS d2
             |       FROM qo CROSS JOIN c0 CROSS JOIN dim GROUP BY qo.id, c0.cid),
             |a1 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e1)
             |       WHERE rn = 1),
             |u1 AS (SELECT a1.cid, d,
             |         CAST(floor(CAST(sum(qo.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM a1 JOIN qo USING (id) CROSS JOIN dim GROUP BY a1.cid, d),
             |c1 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u1 GROUP BY cid
             |       UNION ALL
             |       SELECT c0.cid, c0.cv FROM c0 WHERE c0.cid NOT IN (SELECT cid FROM u1)),
             |e2 AS (SELECT qo.id, c1.cid,
             |         sum((qo.qv[d+1]-c1.cv[d+1])*(qo.qv[d+1]-c1.cv[d+1])) AS d2
             |       FROM qo CROSS JOIN c1 CROSS JOIN dim GROUP BY qo.id, c1.cid),
             |a2 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e2)
             |       WHERE rn = 1),
             |u2 AS (SELECT a2.cid, d,
             |         CAST(floor(CAST(sum(qo.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM a2 JOIN qo USING (id) CROSS JOIN dim GROUP BY a2.cid, d),
             |c2 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u2 GROUP BY cid
             |       UNION ALL
             |       SELECT c1.cid, c1.cv FROM c1 WHERE c1.cid NOT IN (SELECT cid FROM u2)),
             |e3 AS (SELECT qn.id, c2.cid,
             |         sum((qn.qv[d+1]-c2.cv[d+1])*(qn.qv[d+1]-c2.cv[d+1])) AS d2
             |       FROM qn CROSS JOIN c2 CROSS JOIN dim GROUP BY qn.id, c2.cid),
             |a3 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e3)
             |       WHERE rn = 1),
             |chk AS (SELECT cid, CAST(sum(cv[d+1]*(d+1)) AS BIGINT) AS cen_chk
             |        FROM c2 CROSS JOIN dim GROUP BY cid)
             |SELECT CAST(a3.cid AS INT) AS cid, count(*) AS n_new,
             |  CAST(sum(a3.id) AS BIGINT) AS sum_vid, chk.cen_chk
             |FROM a3 JOIN chk USING (cid)
             |GROUP BY a3.cid, chk.cen_chk ORDER BY 1""".stripMargin)),

    // ----- R9: errors-as-nodata, oracle-gated — the reference turns
    // matching reader exceptions into nodata fills (`nodata_reader.py:
    // 14-64`, defaults `stack.py:48-50`). A reader that throws a
    // "404"-style RuntimeException for every window touching the TOP HALF
    // of item 1's raster: those tiles become all-NaN fills and are elided
    // (R4), so item 1 keeps only its bottom-half chunks while items 0 and
    // 2 are complete — per-tile counts and ramp checksums are closed-form.
    Q("r9_errors_nodata",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec, Window => W}
        import graft.scan.{AssetRow, ErrorsAsNodata, RampReader, Reader, TileScan}
        val spec = RasterSpec(32633, Bounds(0, 0, 1280, 1280), 10.0, 10.0) // 128x128
        val assets = (0 until 3).map { i =>
          AssetRow(i, 0, "b", i.toLong * 1000000L, s"ramp://$i",
                   0, 0, 1280, 1280, 1.0, i * 100000.0)
        }
        final case class FlakyTop(inner: RampReader) extends Reader {
          def read(w: W): Array[Double] =
            if (w.rowOff < 64) throw new RuntimeException("HTTP 404: tile gone")
            else inner.read(w)
        }
        val policy = ErrorsAsNodata(Seq((classOf[RuntimeException], "404")))
        val tiles = TileScan.scan(s, assets, spec, chunk = 64,
          readerFor = a => if (a.itemIdx == 1) FlakyTop(RampReader(128)) else RampReader(128),
          errorsAsNodata = policy)
        tiles.flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield (t.itemIdx, t.yChunk, t.xChunk, v.toLong)
          }
          .toDF("item_idx", "y_chunk", "x_chunk", "v")
          .groupBy($"item_idx", $"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"v").as("sum_v"))
          .orderBy($"item_idx", $"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,128) t(r) CROSS JOIN range(0,128) u(c)),
             |it AS (SELECT i FROM range(0,3) t(i)),
             |v AS (SELECT i, r, c, r*128 + c + i*100000 AS v FROM px CROSS JOIN it
             |      WHERE NOT (i = 1 AND r < 64))
             |SELECT CAST(i AS INT) AS item_idx,
             |  CAST(r//64 AS INT) AS y_chunk, CAST(c//64 AS INT) AS x_chunk,
             |  count(*) AS n_px, CAST(sum(v) AS BIGINT) AS sum_v
             |FROM v GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ----- P8b: the PLANNER's own output, oracle-gated — prepare_items'
    // decisions stated row by row (`prepare.py:59-395`): bbox taken
    // directly in matching CRS (item 0), footprint derived from
    // transform+shape when bbox is absent (item 1 red, branch 2 of the
    // fallback chain), missing asset -> null-url fill row (item 1 nir,
    // P3), undeterminable footprint without requested bounds -> item
    // dropped entirely (item 2, P5), union bounds + min-fold resolution +
    // snap -> the output spec. Same-CRS fixture keeps every number exact,
    // so the oracle is the hand-derived literal table.
    Q("p8_plan_table",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds}
        import graft.stac.{Prepare, StacAsset, StacItem}
        val items = Seq(
          StacItem("i0", Some("2024-01-01T00:00:00Z"), epsg = Some(32633), assets = Map(
            "red" -> StacAsset("u0r", bbox = Some(Bounds(0, 0, 1000, 1000)),
              shape = Some((100, 100)),
              transform = Some(AffineTransform.northUp(0, 1000, 10, 10)),
              scale = 0.5, offset = 2.0),
            "nir" -> StacAsset("u0n", bbox = Some(Bounds(0, 0, 1000, 1000)),
              shape = Some((100, 100)),
              transform = Some(AffineTransform.northUp(0, 1000, 10, 10))))),
          StacItem("i1", Some("2024-01-02T00:00:00Z"), epsg = Some(32633), assets = Map(
            "red" -> StacAsset("u1r", shape = Some((100, 100)),
              transform = Some(AffineTransform.northUp(500, 1500, 5, 5))))),
          StacItem("i2", Some("2024-01-03T00:00:00Z"), assets = Map(
            "red" -> StacAsset("u2r"), "nir" -> StacAsset("u2n"))))
        val plan = Prepare(items)
        val (h, w) = plan.spec.shape
        plan.assetTable.toDF()
          .select($"itemIdx".as("item_idx"), $"assetIdx".as("asset_idx"), $"band",
            ($"timeMicros" / 1000000L).cast("long").as("time_s"),
            coalesce($"url", lit("MISSING")).as("url"),
            $"minx", $"miny", $"maxx", $"maxy", $"scale", $"offset".as("offs"), $"epsg")
          .withColumn("spec_minx", lit(plan.spec.bounds.minx))
          .withColumn("spec_maxy", lit(plan.spec.bounds.maxy))
          .withColumn("spec_xres", lit(plan.spec.xres))
          .withColumn("spec_h", lit(h)).withColumn("spec_w", lit(w))
          .orderBy($"item_idx", $"asset_idx")
      },
      Some("""SELECT CAST(item_idx AS INT) AS item_idx, CAST(asset_idx AS INT) AS asset_idx,
             |  band, CAST(time_s AS BIGINT) AS time_s, url,
             |  CAST(minx AS DOUBLE) AS minx, CAST(miny AS DOUBLE) AS miny,
             |  CAST(maxx AS DOUBLE) AS maxx, CAST(maxy AS DOUBLE) AS maxy,
             |  CAST(scale AS DOUBLE) AS scale, CAST(offs AS DOUBLE) AS offs,
             |  CAST(epsg AS INT) AS epsg,
             |  CAST(0.0 AS DOUBLE) AS spec_minx, CAST(1500.0 AS DOUBLE) AS spec_maxy,
             |  CAST(5.0 AS DOUBLE) AS spec_xres,
             |  CAST(300 AS INT) AS spec_h, CAST(200 AS INT) AS spec_w
             |FROM (VALUES
             |  (0, 0, 'nir', 1704067200, 'u0n', 0.0, 0.0, 1000.0, 1000.0, 1.0, 0.0, 32633),
             |  (0, 1, 'red', 1704067200, 'u0r', 0.0, 0.0, 1000.0, 1000.0, 0.5, 2.0, 32633),
             |  (1, 0, 'nir', 1704153600, 'MISSING', 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0),
             |  (1, 1, 'red', 1704153600, 'u1r', 500.0, 1000.0, 1000.0, 1500.0, 1.0, 0.0, 32633))
             |  v(item_idx, asset_idx, band, time_s, url, minx, miny, maxx, maxy, scale, offs, epsg)
             |ORDER BY 1, 2""".stripMargin)),

    // ----- P5b: all-dead band drop + index remap, oracle-gated — the
    // planner decision p8 does NOT exercise (`prepare.py:384-393`): a
    // band whose every asset misses the requested bounds ('haze' at
    // 5000..6000 vs request 0..1000) must vanish from the output AND the
    // surviving bands' asset indices must close the gap (nir 1->0,
    // red 2->1); a band merely missing on ONE item stays, as that item's
    // null-url fill row (P3). Both items keep their indices (each still
    // has a live asset). The oracle is the hand-derived literal table.
    Q("p5_band_drop",
      (s, _) => {
        import s.implicits._
        import graft.core.Bounds
        import graft.stac.{Prepare, PrepareOptions, StacAsset, StacItem}
        def a(url: String, b: Bounds) = StacAsset(url, bbox = Some(b))
        val far = Bounds(5000, 5000, 6000, 6000)
        val items = Seq(
          StacItem("i0", Some("2024-02-01T00:00:00Z"), epsg = Some(32633), assets = Map(
            "red" -> a("u0r", Bounds(0, 0, 500, 500)),
            "haze" -> a("u0h", far))),
          StacItem("i1", Some("2024-02-02T00:00:00Z"), epsg = Some(32633), assets = Map(
            "red" -> a("u1r", Bounds(250, 250, 750, 750)),
            "nir" -> a("u1n", Bounds(0, 0, 1000, 1000)),
            "haze" -> a("u1h", far))))
        val plan = Prepare(items, PrepareOptions(
          bounds = Some(Bounds(0, 0, 1000, 1000)),
          resolution = Some((10.0, 10.0)), epsg = Some(32633)))
        val (h, w) = plan.spec.shape
        plan.assetTable.toDF()
          .select($"itemIdx".as("item_idx"), $"assetIdx".as("asset_idx"), $"band",
            ($"timeMicros" / 1000000L).cast("long").as("time_s"),
            coalesce($"url", lit("MISSING")).as("url"),
            $"minx", $"miny", $"maxx", $"maxy", $"epsg")
          .withColumn("kept_bands", lit(plan.assetIds.mkString(",")))
          .withColumn("spec_h", lit(h)).withColumn("spec_w", lit(w))
          .orderBy($"item_idx", $"asset_idx")
      },
      Some("""SELECT CAST(item_idx AS INT) AS item_idx, CAST(asset_idx AS INT) AS asset_idx,
             |  band, CAST(time_s AS BIGINT) AS time_s, url,
             |  CAST(minx AS DOUBLE) AS minx, CAST(miny AS DOUBLE) AS miny,
             |  CAST(maxx AS DOUBLE) AS maxx, CAST(maxy AS DOUBLE) AS maxy,
             |  CAST(epsg AS INT) AS epsg, 'nir,red' AS kept_bands,
             |  CAST(100 AS INT) AS spec_h, CAST(100 AS INT) AS spec_w
             |FROM (VALUES
             |  (0, 0, 'nir', 1706745600, 'MISSING', 0.0, 0.0, 0.0,    0.0,    0),
             |  (0, 1, 'red', 1706745600, 'u0r',     0.0, 0.0, 500.0,  500.0,  32633),
             |  (1, 0, 'nir', 1706832000, 'u1n',     0.0, 0.0, 1000.0, 1000.0, 32633),
             |  (1, 1, 'red', 1706832000, 'u1r',     250.0, 250.0, 750.0, 750.0, 32633))
             |  v(item_idx, asset_idx, band, time_s, url, minx, miny, maxx, maxy, epsg)
             |ORDER BY 1, 2""".stripMargin)),

    // ----- S1b: STAC JSON ingestion, oracle-gated — newline-delimited
    // item JSON through spark.read.json + StacJson normalization
    // (`stac_types.py:136-200` analog): proj:* extraction with
    // item-level fallback, raster:bands scale/offset, lat/lon bbox,
    // nested property rendering to canonical JSON. The oracle is the
    // hand-written normalized table.
    Q("s5_stac_json",
      (s, _) => {
        import s.implicits._
        val dir = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_s5_json")
        dir.mkdirs()
        val f = new java.io.File(dir, "items.ndjson")
        if (!f.exists()) {
          val lines = Seq(
            """{"id":"j0","bbox":[12.0,46.0,12.5,46.5],"properties":{"datetime":"2024-03-01T00:00:00Z","proj:epsg":32633,"platform":"sat-9","eo:bands":[{"name":"B04"},{"name":"B08"}]},"assets":{"red":{"href":"file:///r0.tif","type":"image/tiff","proj:shape":[50,60],"proj:transform":[10,0,100,0,-10,900],"raster:bands":[{"scale":0.25,"offset":-5}]}}}""",
            """{"id":"j1","properties":{"datetime":"2024-03-02T00:00:00Z","proj:epsg":32633,"platform":"sat-9"},"assets":{"red":{"href":"file:///r1.tif","proj:epsg":32634,"proj:bbox":[0,0,600,500]}}}""")
          val tmp = java.io.File.createTempFile("items", ".tmp", dir)
          java.nio.file.Files.write(tmp.toPath,
            lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
          if (!tmp.renameTo(f) && !f.exists()) sys.error(s"cannot publish $f")
          tmp.delete()
        }
        val items = graft.stac.StacJson.read(s, f.getAbsolutePath)
        items.sortBy(_.id).flatMap { it =>
          it.assets.toSeq.sortBy(_._1).map { case (aid, a) =>
            (it.id, aid,
             graft.stac.Stac.parseDatetimeMicros(it.datetime.get) / 1000000L,
             it.epsg.getOrElse(-1), a.epsg.getOrElse(-1),
             it.bboxLatLon.map(_.minx).getOrElse(-1.0),
             a.href, a.mimetype.getOrElse("none"),
             a.shape.map(sh => sh._1 * 1000 + sh._2).getOrElse(-1),
             a.transform.map(t => t.a * 1e6 + t.c * 1e3 + t.f).getOrElse(-1.0),
             a.bbox.map(b => b.maxx * 1e3 + b.maxy).getOrElse(-1.0),
             a.scale, a.offset,
             it.properties.getOrElse("platform", "?"),
             it.properties.getOrElse("eo:bands", "?"))
          }
        }.toDF("id", "asset", "time_s", "item_epsg", "asset_epsg", "bbox_minlon",
               "href", "mime", "shape_code", "tf_code", "abbox_code",
               "scale", "offs", "platform", "bands_json")
          .orderBy($"id", $"asset")
      },
      Some("""SELECT * FROM (VALUES
             |  ('j0', 'red', CAST(1709251200 AS BIGINT), 32633, -1, 12.0,
             |   'file:///r0.tif', 'image/tiff', 50060, CAST(10*1e6 + 100*1e3 + 900 AS DOUBLE),
             |   -1.0, 0.25, -5.0, 'sat-9', '[{"name":"B04"},{"name":"B08"}]'),
             |  ('j1', 'red', CAST(1709337600 AS BIGINT), 32633, 32634, -1.0,
             |   'file:///r1.tif', 'none', -1, -1.0, CAST(600*1e3 + 500 AS DOUBLE),
             |   1.0, 0.0, 'sat-9', '?'))
             |  v(id, asset, time_s, item_epsg, asset_epsg, bbox_minlon, href, mime,
             |    shape_code, tf_code, abbox_code, scale, offs, platform, bands_json)
             |ORDER BY 1, 2""".stripMargin)),

    // ----- F13b: the multi-band RGB compose, oracle-gated — the render
    // math behind the true-color tile endpoint (`show.py:452-475` +
    // `show.py:915-967`'s compose): three synthetic planes with NaN holes
    // and out-of-range values go through the REAL pipeline — normalize
    // (clamp to [0,1] over a fixed range) -> Png.encode (u8 channel
    // pack, checkerboard under any-NaN) -> actual PNG bytes -> ImageIO
    // decode — and every decoded pixel is hash-checked against the SQL
    // replay of that math. Gates encode+decode round trip, channel
    // order, clamping, and the NaN->checker path in one query.
    Q("f13_rgb_compose",
      (s, _) => {
        import s.implicits._
        import graft.viz.Png
        val h = 64; val w = 64
        // band b at flat index k: NaN on a 97-stride lattice (offset 7b),
        // else ((k*(b+3)) % 1100) - 50 — exercises <vmin and >vmax clamps
        def raw(b: Int, k: Int): Double =
          if ((k + b * 7) % 97 == 0) Double.NaN
          else ((k.toLong * (b + 3)) % 1100).toDouble - 50.0
        val planes = (0 until 3).map(b =>
          Array.tabulate(h * w)(k => Png.normalize(raw(b, k), 0.0, 1000.0)))
        val png = Png.encode(planes, h, w) // checkerboard under NaN
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
        val rows = for { r <- 0 until h; c <- 0 until w } yield {
          val argb = img.getRGB(c, r)
          (r, c, (argb >> 24) & 0xff, (argb >> 16) & 0xff,
            (argb >> 8) & 0xff, argb & 0xff)
        }
        rows.toDF("r", "c", "a", "red", "grn", "blu").orderBy($"r", $"c")
      },
      Some("""WITH px AS (
             |  SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c, r*64 + c AS k
             |  FROM range(0,64) t(r) CROSS JOIN range(0,64) u(c)),
             |v AS (
             |  SELECT r, c,
             |    CASE WHEN k % 97 = 0        THEN NULL ELSE (k*3) % 1100 - 50.0 END AS v0,
             |    CASE WHEN (k + 7) % 97 = 0  THEN NULL ELSE (k*4) % 1100 - 50.0 END AS v1,
             |    CASE WHEN (k + 14) % 97 = 0 THEN NULL ELSE (k*5) % 1100 - 50.0 END AS v2
             |  FROM px),
             |n AS (
             |  SELECT r, c, (v0 IS NULL OR v1 IS NULL OR v2 IS NULL) AS hole,
             |    least(greatest(v0/1000.0, 0.0), 1.0) AS x0,
             |    least(greatest(v1/1000.0, 0.0), 1.0) AS x1,
             |    least(greatest(v2/1000.0, 0.0), 1.0) AS x2,
             |    CASE WHEN ((r//8)+(c//8)) % 2 = 0 THEN 204 ELSE 153 END AS chk
             |  FROM v)
             |SELECT r, c, CAST(255 AS INT) AS a,
             |  CAST(CASE WHEN hole THEN chk ELSE floor(x0*255 + 0.5) END AS INT) AS red,
             |  CAST(CASE WHEN hole THEN chk ELSE floor(x1*255 + 0.5) END AS INT) AS grn,
             |  CAST(CASE WHEN hole THEN chk ELSE floor(x2*255 + 0.5) END AS INT) AS blu
             |FROM n ORDER BY r, c""".stripMargin)),

    // ----- F14b: colormap LUT construction, oracle-gated — the anchor
    // interpolation behind every registered map (`show.py:940-948`'s
    // cmap apply, our Colormap.fromAnchors) replayed in SQL: first
    // matching segment, f = (x-x0)/(x1-x0), channel = floor(c0 +
    // (c1-c0)*f + 0.5) (Scala math.round IS floor(x+0.5) for positive
    // doubles). All 256 entries x 3 maps hash-checked.
    Q("f14_colormap",
      (s, _) => {
        import s.implicits._
        import graft.viz.Colormap
        val maps = Seq("gray" -> Colormap.gray, "magma" -> Colormap.magma,
                       "viridis" -> Colormap.viridis)
        maps.flatMap { case (n, cm) =>
          (0 until 256).map { i =>
            val argb = cm.lut(i)
            (n, i, (argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff)
          }
        }.toDF("cmap", "i", "r", "g", "b").orderBy($"cmap", $"i")
      },
      Some("""WITH seg AS (SELECT * FROM (VALUES
             |  ('viridis', 0.0, 0.25, 68,1,84, 59,82,139),
             |  ('viridis', 0.25, 0.5, 59,82,139, 33,145,140),
             |  ('viridis', 0.5, 0.75, 33,145,140, 94,201,98),
             |  ('viridis', 0.75, 1.0, 94,201,98, 253,231,37),
             |  ('magma', 0.0, 0.25, 0,0,4, 81,18,124),
             |  ('magma', 0.25, 0.5, 81,18,124, 183,55,121),
             |  ('magma', 0.5, 0.75, 183,55,121, 252,137,97),
             |  ('magma', 0.75, 1.0, 252,137,97, 252,253,191),
             |  ('gray', 0.0, 1.0, 0,0,0, 255,255,255))
             |  s(cmap, x0, x1, r0, g0, b0, r1, g1, b1)),
             |ix AS (SELECT CAST(i AS INT) AS i, i/255.0 AS x FROM range(0,256) t(i)),
             |m AS (SELECT cmap, i, x, x0, x1, r0, g0, b0, r1, g1, b1,
             |        row_number() OVER (PARTITION BY cmap, i ORDER BY x0) AS rn
             |      FROM ix JOIN seg ON x >= x0 AND x <= x1),
             |f AS (SELECT cmap, i, (x - x0)/(x1 - x0) AS f,
             |        r0, g0, b0, r1, g1, b1 FROM m WHERE rn = 1)
             |SELECT cmap, i,
             |  CAST(floor(r0 + (r1 - r0)*f + 0.5) AS INT) AS r,
             |  CAST(floor(g0 + (g1 - g0)*f + 0.5) AS INT) AS g,
             |  CAST(floor(b0 + (b1 - b0)*f + 0.5) AS INT) AS b
             |FROM f ORDER BY cmap, i""".stripMargin)),

    // ----- F15b: checkerboard pattern (the under-transparency filler,
    // `show.py:973-978`): 8-px squares, 0xcc/0x99 grey — replayed as the
    // parity closed form with position checksums.
    Q("f15_checkerboard",
      (s, _) => {
        import s.implicits._
        (for (r <- 0 until 64; c <- 0 until 64) yield {
          val argb = graft.viz.Png.checker(r, c)
          (r, c, (argb >> 16) & 0xff, argb >>> 24)
        }).toDF("r", "c", "g", "alpha")
          .groupBy($"g", $"alpha")
          .agg(count(lit(1)).as("n"),
               sum($"r".cast("long") * 64 + $"c").as("pos_chk"))
          .orderBy($"g")
      },
      Some("""SELECT CASE WHEN ((r//8) + (c//8)) % 2 = 0 THEN 204 ELSE 153 END AS g,
             |  CAST(255 AS INT) AS alpha, count(*) AS n,
             |  CAST(sum(r*64 + c) AS BIGINT) AS pos_chk
             |FROM range(0,64) t(r) CROSS JOIN range(0,64) u(c)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- MD2: per-pixel temporal QUANTILE (xarray `.quantile(0.25)`) —
    // md1's fixture with q=0.25: June (2 scenes, offsets 0/10000) ->
    // pos 0.25 -> base + 2500; July (4 scenes, 20000..50000) ->
    // pos 0.75 -> base + 27500. Linear order-statistic interpolation on
    // exact integers; quantized *4 so both engines state integers.
    Q("md2_quantile",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.scan.{AssetRow, RampReader, TileScan}
        val spec = RasterSpec(32633, Bounds(0, 0, 1280, 1280), 10.0, 10.0)
        val dates = Seq("2024-06-03", "2024-06-21",
                        "2024-07-02", "2024-07-09", "2024-07-18", "2024-07-30")
        val assets = dates.zipWithIndex.map { case (d, i) =>
          AssetRow(i, 0, "b", graft.stac.Stac.parseDatetimeMicros(d + "T00:00:00Z"),
                   s"ramp://$i", 0, 0, 1280, 1280, 1.0, i * 10000.0)
        }
        val tiles = TileScan.scan(s, assets, spec, chunk = 64,
          readerFor = _ => RampReader(128))
        graft.ops.Median.temporalQuantile(tiles, 64, 0.25, micros => {
          val inst = java.time.Instant.ofEpochSecond(micros / 1000000L)
          java.time.ZonedDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
            .withDayOfMonth(1).toLocalDate.atStartOfDay(java.time.ZoneOffset.UTC)
            .toInstant.getEpochSecond * 1000000L
        })
          .flatMap { case (period, ct) =>
            for {
              r <- 0 until ct.height; c <- 0 until ct.width
              v = ct.pixels(r * ct.width + c) if !v.isNaN
            } yield {
              val gr = ct.yChunk * 64 + r; val gc = ct.xChunk * 64 + c
              (period / 1000000L, ct.yChunk, ct.xChunk,
               (v * 4).toLong, (gr.toLong * 128 + gc))
            }
          }
          .toDF("period_s", "y_chunk", "x_chunk", "q4", "pos")
          .groupBy($"period_s", $"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q4").as("sum_q4"),
               sum($"q4" * $"pos").as("pos_chk"))
          .orderBy($"period_s", $"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,128) t(r) CROSS JOIN range(0,128) u(c)),
             |pd AS (SELECT * FROM (VALUES
             |         (CAST(epoch_us(TIMESTAMP '2024-06-01 00:00:00')//1000000 AS BIGINT), 2500),
             |         (CAST(epoch_us(TIMESTAMP '2024-07-01 00:00:00')//1000000 AS BIGINT), 27500))
             |       v(period_s, d))
             |SELECT period_s, CAST(r//64 AS INT) AS y_chunk, CAST(c//64 AS INT) AS x_chunk,
             |  count(*) AS n_px,
             |  CAST(sum((r*128 + c + d)*4) AS BIGINT) AS sum_q4,
             |  CAST(sum((r*128 + c + d)*4 * (r*128 + c)) AS BIGINT) AS pos_chk
             |FROM px CROSS JOIN pd
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ----- S6: INCREMENTAL streaming mosaic — scenes arrive one
    // micro-batch at a time (maxFilesPerTrigger=1) and a
    // mapGroupsWithState composite stays current: per-pixel argmax by
    // (time, item) like MosaicAgg, so the final state is independent of
    // arrival order (file pickup order is unspecified). Scene 2 (latest)
    // covers only the left half, so the composite is scene 2 left /
    // scene 1 right — the closed form the oracle states. The row with
    // max `updates` per chunk is the final snapshot.
    Q("s6_stream_mosaic",
      (s, _) => {
        import s.implicits._
        import graft.scan.Tile
        val dir = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_s6_tiles")
        val ok = new java.io.File(dir, "_SUCCESS_GRAFT")
        if (!ok.exists()) {
          dir.mkdirs()
          for (i <- 0 until 3) { // one parquet file per scene = one batch each
            val tiles = for {
              yc <- 0 until 2; xc <- 0 until 2
              if !(i == 2 && xc == 1) // latest scene covers only the left half
            } yield Tile(i, 0, "b", i.toLong * 1000000L, yc, xc, 0, 0, 64, 64,
              Array.tabulate(64 * 64) { k =>
                val r = yc * 64 + k / 64; val c = xc * 64 + k % 64
                (r * 128 + c).toDouble + i * 100000.0
              })
            s.createDataset(tiles).coalesce(1)
              .write.mode("append").parquet(dir.getAbsolutePath)
          }
          ok.createNewFile()
        }
        val schema = s.read.parquet(dir.getAbsolutePath).schema
        val queryName = "graft_smosaic_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val st = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(dir.getAbsolutePath).as[Tile]
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = graft.streaming.StreamMosaic(st, chunk = 64, gridW = 128)
            .writeStream.outputMode("update")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"band", $"yChunk", $"xChunk").orderBy($"updates".desc)
        s.table(queryName)
          .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"band", $"yChunk".as("y_chunk"), $"xChunk".as("x_chunk"),
                  $"nValid".as("n_px"), $"sumV".as("sum_v"), $"posChk".as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,128) t(r) CROSS JOIN range(0,128) u(c)),
             |v AS (SELECT r, c,
             |        r*128 + c + CASE WHEN c < 64 THEN 200000 ELSE 100000 END AS v
             |      FROM px)
             |SELECT 'b' AS band, CAST(r//64 AS INT) AS y_chunk, CAST(c//64 AS INT) AS x_chunk,
             |  CAST(count(*) AS INT) AS n_px,
             |  CAST(sum(v) AS BIGINT) AS sum_v,
             |  CAST(sum(v * (r*128 + c)) AS BIGINT) AS pos_chk
             |FROM v GROUP BY 2, 3 ORDER BY 2, 3""".stripMargin)),

    // ----- D6: multi-index SimHash near-dup — pairs within hamming 3 of
    // a 32-bit fingerprint, candidates from 8-bit segment collisions
    // (pigeonhole: exact recall for hamming < bands; 256 buckets/band
    // keeps hot-bucket blowup in check — 16 buckets measured 4x slower
    // from candidate skew). Verified with the codegen'd hamming_dist;
    // the oracle replays fingerprint, banding, and a 32-term
    // bit-difference hamming in SQL.
    Q("d6_simhash_near",
      (s, dir) => {
        import s.implicits._
        graft.dedup.Dedup.simhashNear(
            t(s, dir, "documents"), "doc_id", "text",
            nBits = 32, bands = 4, maxHamming = 3)
          .groupBy($"hamming")
          .agg(count(lit(1)).as("n_pairs"),
               sum($"id_a" + $"id_b").as("sum_ids"))
          .orderBy($"hamming")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
             |bits AS (SELECT doc_id, ('0x'||substr(md5(tok),1,8))::BIGINT AS h FROM toks),
             |sums AS (SELECT doc_id,
             |""".stripMargin +
           (0 until 32).map(j =>
             s"    sum(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
             .mkString(",\n") +
           "\n  FROM bits GROUP BY doc_id),\nsh AS (SELECT doc_id,\n  " +
           (0 until 32).map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
             .mkString(" + ") +
           """ AS simhash FROM sums),
             |bd AS (SELECT doc_id, b,
             |         (simhash // (CASE b WHEN 0 THEN 1 WHEN 1 THEN 256
             |                             WHEN 2 THEN 65536 ELSE 16777216 END)) % 256 AS key
             |       FROM sh CROSS JOIN range(0,4) t(b)),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
             |         FROM bd a JOIN bd b2
             |           ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id),
             |hv AS (SELECT id_a, id_b,
             |""".stripMargin +
           (0 until 32).map(j =>
             s"    (CASE WHEN (sa.simhash // ${1L << j}) % 2 <> (sb.simhash // ${1L << j}) % 2 THEN 1 ELSE 0 END)")
             .mkString(" +\n") +
           """ AS hamming
             |       FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
             |                 JOIN sh sb ON cand.id_b = sb.doc_id)
             |SELECT CAST(hamming AS INT) AS hamming, count(*) AS n_pairs,
             |  CAST(sum(id_a + id_b) AS BIGINT) AS sum_ids
             |FROM hv WHERE hamming <= 3 GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  private val roundFour: Seq[Q] = Seq(

    // ----- X6: train/eval decontamination — flag training docs whose
    // distinct 3-grams overlap the eval set (the GPT-3 appendix-C /
    // WiMBD overlap check every LLM data pipeline runs before training).
    // Eval set = a deterministic ~2% hash slice of the corpus standing in
    // for a benchmark; grams are 60-bit hashes (8-byte join keys); the
    // eval gram table is tiny so AQE broadcasts the join and the train
    // side is ONE scan + one map-side-combined groupBy. Output histograms
    // the contamination ratio in integer-exact 1/20 buckets.
    Q("x6_decontaminate",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val evalSlice = conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long") % 50 === 7
        val scored = graft.dedup.Dedup.decontaminate(
          docs.filter(!evalSlice), docs.filter(evalSlice),
          "doc_id", "text", shingleN = 3)
        scored
          .select(expr("(matched * 20) div n_grams").as("bucket"),
                  $"matched", $"n_grams")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_docs"), sum($"matched").as("sum_matched"),
               sum($"n_grams").as("sum_grams"))
          .orderBy($"bucket")
      },
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 50 = 7 AS is_eval,
             |    string_split(text,' ') AS s
             |  FROM documents),
             |g AS (SELECT doc_id, is_eval,
             |        list_distinct(list_transform(range(len(s)-2),
             |          i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]||' '||s[i+3]),1,15))::BIGINT)) AS gs
             |      FROM s WHERE len(s) >= 3),
             |eg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE is_eval),
             |per AS (
             |  SELECT tg.doc_id, count(*) AS ng, count(eg.gram) AS matched
             |  FROM (SELECT doc_id, unnest(gs) AS gram FROM g WHERE NOT is_eval) tg
             |  LEFT JOIN eg ON tg.gram = eg.gram
             |  GROUP BY tg.doc_id)
             |SELECT matched*20//ng AS bucket, count(*) AS n_docs,
             |  CAST(sum(matched) AS BIGINT) AS sum_matched,
             |  CAST(sum(ng) AS BIGINT) AS sum_grams
             |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ----- X13: bloom-prefiltered decontamination — same exact
    // semantics as x6 (different eval slice so both run side by side),
    // but the eval-gram set folds distributed into Spark's own
    // runtime-filter bloom sketch (BloomFilterAggregate, ~10 bits/gram)
    // and train grams probe it inside whole-stage codegen BEFORE the
    // exact join: only probable hits shuffle. This is the shape for when
    // eval outgrows a broadcast hash join — the sketch is ~10x smaller
    // than a hash relation, and at 100 TB the pre-filter drops ~all of
    // the train-gram join input at the scan. False positives are swept
    // by the exact join; false negatives cannot happen, so the oracle is
    // the same exact rollup (and DedupSpec pins decontaminateBloom ==
    // decontaminate row-for-row).
    Q("x13_bloom_decon",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val evalSlice = conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long") % 50 === 11
        val scored = graft.dedup.Dedup.decontaminateBloom(
          docs.filter(!evalSlice), docs.filter(evalSlice),
          "doc_id", "text", shingleN = 3)
        scored
          .select(expr("(matched * 20) div n_grams").as("bucket"),
                  $"matched", $"n_grams")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_docs"), sum($"matched").as("sum_matched"),
               sum($"n_grams").as("sum_grams"))
          .orderBy($"bucket")
      },
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 50 = 11 AS is_eval,
             |    string_split(text,' ') AS s
             |  FROM documents),
             |g AS (SELECT doc_id, is_eval,
             |        list_distinct(list_transform(range(len(s)-2),
             |          i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]||' '||s[i+3]),1,15))::BIGINT)) AS gs
             |      FROM s WHERE len(s) >= 3),
             |eg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE is_eval),
             |per AS (
             |  SELECT tg.doc_id, count(*) AS ng, count(eg.gram) AS matched
             |  FROM (SELECT doc_id, unnest(gs) AS gram FROM g WHERE NOT is_eval) tg
             |  LEFT JOIN eg ON tg.gram = eg.gram
             |  GROUP BY tg.doc_id)
             |SELECT matched*20//ng AS bucket, count(*) AS n_docs,
             |  CAST(sum(matched) AS BIGINT) AS sum_matched,
             |  CAST(sum(ng) AS BIGINT) AS sum_grams
             |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T9: repetition-ratio quality signals (the Gopher-filter
    // family): per document, the share of 2-gram occurrences owned by the
    // single most-repeated 2-gram and the duplicated-gram mass. All
    // outputs are integer sums / integer-div buckets — engine-exact. Two
    // bounded-key shuffles: (doc, gram) partial-aggregates map-side, then
    // (doc) folds to one row per document.
    Q("t9_repetition",
      (s, dir) => {
        import s.implicits._
        // Grams as 60-bit md5 hashes via the one-pass native kernel (8-byte
        // group keys instead of strings; the oracle replays the same hash).
        // Docs under 2 tokens yield an empty array — explode drops them,
        // mirroring the oracle's len >= 2 guard.
        val grams = t(s, dir, "documents")
          .select($"doc_id", $"lang",
            explode(graft.functions.GraftFunctions.ngram_hashes($"text", 2)).as("gram"))
        val per = grams
          .groupBy($"doc_id", $"lang", $"gram").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id", $"lang")
          .agg(max($"c").as("topc"), sum($"c").as("tot"), count(lit(1)).as("ndist"))
        per.select($"lang", expr("(topc * 10) div tot").as("top_bucket"),
                   $"topc", $"tot", $"ndist")
          .groupBy($"lang", $"top_bucket")
          .agg(count(lit(1)).as("n_docs"),
               sum($"tot" - $"ndist").as("sum_dup_grams"),
               sum($"tot").as("sum_grams"), sum($"topc").as("sum_top"))
          .orderBy($"lang", $"top_bucket")
      },
      Some("""WITH s AS (SELECT doc_id, lang, string_split(text,' ') AS s
             |            FROM documents WHERE len(string_split(text,' ')) >= 2),
             |tg AS (SELECT doc_id, lang,
             |         unnest(list_transform(range(len(s)-1),
             |           i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]),1,15))::BIGINT)) AS gram
             |       FROM s),
             |cnt AS (SELECT doc_id, lang, gram, count(*) AS c FROM tg GROUP BY 1,2,3),
             |per AS (SELECT doc_id, lang, max(c) AS topc, sum(c) AS tot, count(*) AS ndist
             |        FROM cnt GROUP BY 1,2)
             |SELECT lang, CAST(topc*10//tot AS BIGINT) AS top_bucket, count(*) AS n_docs,
             |  CAST(sum(tot-ndist) AS BIGINT) AS sum_dup_grams,
             |  CAST(sum(tot) AS BIGINT) AS sum_grams,
             |  CAST(sum(topc) AS BIGINT) AS sum_top
             |FROM per GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- X7: deterministic shard export — the final training-data step:
    // a seeded-hash global shuffle (decorrelates document order from crawl
    // order) and assignment into N balanced shards with a reproducible
    // within-shard order. The physical export at scale is
    // `repartition(shard) + sortWithinPartitions(hkey) + write.partitionBy`;
    // here the within-shard row_number feeds a position-weighted checksum
    // so the oracle gates the ORDER, not just the membership. The 60-bit
    // md5 key is collision-free on realistic corpora (checked distinct at
    // sf0.1), making the order total and the checksum deterministic.
    Q("x7_shard_export",
      (s, dir) => {
        import s.implicits._
        val hkey = conv(substring(md5(concat(lit("shard:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
          .cast("long")
        val base = t(s, dir, "documents")
          .select($"doc_id", $"n_chars", hkey.as("hkey"))
          .withColumn("shard", pmod($"hkey", lit(8L)))
        val w = Window.partitionBy($"shard").orderBy($"hkey")
        base.withColumn("pos", row_number().over(w).cast("long"))
          .groupBy($"shard")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("bytes"),
               sum($"pos" * $"doc_id").as("order_checksum"), min($"doc_id").as("min_id"))
          .orderBy($"shard")
      },
      Some("""WITH h AS (SELECT doc_id, n_chars,
             |    ('0x'||substr(md5('shard:'||doc_id::VARCHAR),1,15))::BIGINT AS hkey
             |  FROM documents),
             |sh AS (SELECT doc_id, n_chars, hkey % 8 AS shard,
             |         row_number() OVER (PARTITION BY hkey % 8 ORDER BY hkey) AS pos
             |       FROM h)
             |SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes,
             |  CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum, min(doc_id) AS min_id
             |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- S7: STREAMING decontamination — the stream-static join mode
    // (the one Structured Streaming join the suite didn't yet exercise):
    // a live train-document stream is checked against the STATIC eval-set
    // gram table. The explode + join are stateless row ops (the static
    // side broadcasts; no state store involved); only the per-doc gram
    // count keeps state, one row per in-flight doc (watermark-bound it on
    // arrival time in an unbounded deployment). Result ≡ x6's batch
    // histogram — the streaming plan must converge to the batch answer.
    Q("s7_stream_decon",
      (s, dir) => {
        import s.implicits._
        val schema = s.read.parquet(s"$dir/documents.parquet").schema
        val queryName = "graft_sdecon_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val evalSlice = conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long") % 50 === 7
        val evalGrams = t(s, dir, "documents").filter(evalSlice)
          .filter(size(split($"text", " ")) >= 3)
          .select(explode(graft.functions.GraftFunctions.shingle_hashes($"text", 3)).as("g"))
          .distinct().withColumn("hit", lit(1L))
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = s.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet").parquet(dir)
            .filter(!evalSlice)
            .filter(size(split($"text", " ")) >= 3)
            .select($"doc_id", explode(graft.functions.GraftFunctions.shingle_hashes($"text", 3)).as("g"))
            .join(broadcast(evalGrams), Seq("g"), "left")
            .groupBy($"doc_id")
            .agg(count(lit(1)).as("n_grams"), coalesce(sum($"hit"), lit(0L)).as("matched"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        s.table(queryName)
          .select(expr("(matched * 20) div n_grams").as("bucket"), $"matched", $"n_grams")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_docs"), sum($"matched").as("sum_matched"),
               sum($"n_grams").as("sum_grams"))
          .orderBy($"bucket")
      },
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 50 = 7 AS is_eval,
             |    string_split(text,' ') AS s
             |  FROM documents),
             |g AS (SELECT doc_id, is_eval,
             |        list_distinct(list_transform(range(len(s)-2),
             |          i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]||' '||s[i+3]),1,15))::BIGINT)) AS gs
             |      FROM s WHERE len(s) >= 3),
             |eg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE is_eval),
             |per AS (
             |  SELECT tg.doc_id, count(*) AS ng, count(eg.gram) AS matched
             |  FROM (SELECT doc_id, unnest(gs) AS gram FROM g WHERE NOT is_eval) tg
             |  LEFT JOIN eg ON tg.gram = eg.gram
             |  GROUP BY tg.doc_id)
             |SELECT matched*20//ng AS bucket, count(*) AS n_docs,
             |  CAST(sum(matched) AS BIGINT) AS sum_matched,
             |  CAST(sum(ng) AS BIGINT) AS sum_grams
             |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X10: incremental dedup — admit a NEW batch (20% hash slice)
    // against the EXISTING corpus's stored LSH index (band + shingle-set
    // tables), never re-pairing the old corpus with itself: the daily-
    // ingest shape. Rejection = verified jaccard >= 0.9 vs any old doc or
    // vs the new batch's own bucket root. The oracle replays the whole
    // chain (signatures, bands, both candidate families, exact verify).
    Q("x10_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val oldDf = docs.filter(pmod($"doc_id", lit(5L)) =!= 0L)
        val newDf = docs.filter(pmod($"doc_id", lit(5L)) === 0L)
        // the "stored index" — in production written once at corpus build
        val (oldBands, oldSets) =
          graft.dedup.Dedup.buildIndex(oldDf, "doc_id", "text")
        graft.dedup.Dedup
          .admitIncrement(newDf, "doc_id", "text", oldBands, oldSets)
          .agg(count(lit(1)).as("n_admitted"), sum($"doc_id").as("sum_admitted"),
               sum($"n_chars").as("chars_admitted"), min($"doc_id").as("min_admitted"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
             |sig AS (
             |  SELECT doc_id,
             |    min(md5('0|'||tok)) AS h0, min(md5('1|'||tok)) AS h1,
             |    min(md5('2|'||tok)) AS h2, min(md5('3|'||tok)) AS h3,
             |    min(md5('4|'||tok)) AS h4, min(md5('5|'||tok)) AS h5,
             |    min(md5('6|'||tok)) AS h6, min(md5('7|'||tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0||h1||h2||h3) AS key FROM sig UNION ALL
             |  SELECT doc_id, 1, md5(h4||h5||h6||h7) FROM sig),
             |newb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
             |oldb AS (SELECT * FROM bands WHERE doc_id % 5 != 0),
             |sets AS (SELECT doc_id, list_distinct(list_transform(string_split(text,' '),
             |           tok -> ('0x'||substr(md5(tok),1,15))::BIGINT)) AS st FROM documents),
             |cand_old AS (SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
             |             FROM newb n JOIN oldb o ON n.band = o.band AND n.key = o.key),
             |roots AS (SELECT band, key, min(doc_id) AS root FROM newb
             |          GROUP BY 1, 2 HAVING count(*) > 1),
             |cand_new AS (SELECT DISTINCT r.root AS id_a, b.doc_id AS id_b
             |             FROM newb b JOIN roots r ON b.band = r.band AND b.key = r.key
             |             WHERE b.doc_id != r.root),
             |rej1 AS (SELECT DISTINCT id_new FROM cand_old
             |         JOIN sets sa ON id_new = sa.doc_id JOIN sets sb ON id_old = sb.doc_id
             |         WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |               / (len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st))) >= 0.9),
             |rej2 AS (SELECT DISTINCT id_b AS id_new FROM cand_new
             |         JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
             |         WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |               / (len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st))) >= 0.9)
             |SELECT count(*) AS n_admitted, CAST(sum(doc_id) AS BIGINT) AS sum_admitted,
             |  CAST(sum(n_chars) AS BIGINT) AS chars_admitted, min(doc_id) AS min_admitted
             |FROM documents WHERE doc_id % 5 = 0
             |  AND doc_id NOT IN (SELECT id_new FROM rej1 UNION SELECT id_new FROM rej2)""".stripMargin)),

    // ----- X12: corpus snapshot diff — the change-data-capture census
    // between two dataset versions (what a data-versioning layer computes
    // per commit): full outer join on doc id, rows classified added /
    // removed / changed / unchanged by presence and content hash. Two
    // column-pruned scans, one shuffle each side, no state. Snapshots are
    // simulated as two overlapping slices with deterministic "edits"
    // (uppercase) on doc_id % 11 — both engines hash the same bytes.
    Q("x12_snapshot_diff",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val snapA = docs.filter(pmod($"doc_id", lit(7L)) =!= 0L)
          .select($"doc_id", md5($"text").as("h"))
        val snapB = docs.filter(pmod($"doc_id", lit(3L)) =!= 0L)
          .select($"doc_id",
            md5(when(pmod($"doc_id", lit(11L)) === 0L, upper($"text"))
              .otherwise($"text")).as("h"))
        snapA.as("a").join(snapB.as("b"), $"a.doc_id" === $"b.doc_id", "full_outer")
          .select(
            when($"a.doc_id".isNull, "added")
              .when($"b.doc_id".isNull, "removed")
              .when($"a.h" =!= $"b.h", "changed")
              .otherwise("unchanged").as("change"),
            coalesce($"a.doc_id", $"b.doc_id").as("id"))
          .groupBy($"change")
          .agg(count(lit(1)).as("n"), sum($"id").as("id_checksum"))
          .orderBy($"change")
      },
      Some("""WITH a AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 != 0),
             |b AS (SELECT doc_id,
             |        md5(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END) AS h
             |      FROM documents WHERE doc_id % 3 != 0),
             |d AS (SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
             |                  WHEN b.doc_id IS NULL THEN 'removed'
             |                  WHEN a.h != b.h THEN 'changed'
             |                  ELSE 'unchanged' END AS change,
             |             coalesce(a.doc_id, b.doc_id) AS id
             |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
             |SELECT change, count(*) AS n, CAST(sum(id) AS BIGINT) AS id_checksum
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X26: changeset MERGE round-trip (ops.Merge.applyChangeset) —
    // the Delta-style MERGE INTO primitive and the INVERSE of x12's
    // snapshot diff: diff(A, B) applied back onto A must reproduce B
    // EXACTLY. The query builds the same two snapshots as x12 (with
    // real text payloads), derives the (op, id, payload) changeset from
    // the full-outer diff, applies it, and emits the match census of
    // merged-vs-B — a single ("match", N, Σid) row iff the round trip
    // is exact; the oracle replays diff, merge semantics (delete drops,
    // upsert replaces/adds, untouched passes through), and the census.
    Q("x26_merge_roundtrip",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val snapA = docs.filter(pmod($"doc_id", lit(7L)) =!= 0L)
          .select($"doc_id", $"text")
        val snapB = docs.filter(pmod($"doc_id", lit(3L)) =!= 0L)
          .select($"doc_id",
            when(pmod($"doc_id", lit(11L)) === 0L, upper($"text"))
              .otherwise($"text").as("text"))
        val diff = snapA.as("a")
          .join(snapB.as("b"), $"a.doc_id" === $"b.doc_id", "full_outer")
          .select(
            when($"b.doc_id".isNull, "delete").otherwise("upsert").as("op"),
            coalesce($"a.doc_id", $"b.doc_id").as("doc_id"),
            $"b.text".as("text"),
            ($"a.doc_id".isNotNull && $"b.doc_id".isNotNull &&
              $"a.text" === $"b.text").as("same"))
          .filter(!$"same").drop("same")
        val merged = graft.ops.Merge.applyChangeset(snapA, diff, "doc_id", "op")
        merged.as("m").join(snapB.as("b"), $"m.doc_id" === $"b.doc_id", "full_outer")
          .select(
            when($"m.doc_id".isNull, "only_target")
              .when($"b.doc_id".isNull, "only_merged")
              .when($"m.text" === $"b.text", "match").otherwise("mismatch")
              .as("status"),
            coalesce($"m.doc_id", $"b.doc_id").as("id"))
          .groupBy($"status").agg(count(lit(1)).as("n"), sum($"id").as("id_checksum"))
          .orderBy($"status")
      },
      Some("""WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
             |b AS (SELECT doc_id,
             |        CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
             |      FROM documents WHERE doc_id % 3 != 0),
             |diff AS (SELECT CASE WHEN b.doc_id IS NULL THEN 'delete' ELSE 'upsert' END AS op,
             |                coalesce(a.doc_id, b.doc_id) AS doc_id, b.text AS text
             |         FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
             |         WHERE NOT (a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
             |                    AND a.text = b.text)),
             |m AS (SELECT coalesce(d.doc_id, a.doc_id) AS doc_id,
             |             CASE WHEN d.op = 'upsert' THEN d.text ELSE a.text END AS text
             |      FROM a FULL OUTER JOIN diff d ON a.doc_id = d.doc_id
             |      WHERE NOT coalesce(d.op = 'delete', false)),
             |cmp AS (SELECT CASE WHEN m.doc_id IS NULL THEN 'only_target'
             |                    WHEN b.doc_id IS NULL THEN 'only_merged'
             |                    WHEN m.text = b.text THEN 'match'
             |                    ELSE 'mismatch' END AS status,
             |               coalesce(m.doc_id, b.doc_id) AS id
             |        FROM m FULL OUTER JOIN b ON m.doc_id = b.doc_id)
             |SELECT status, count(*) AS n, CAST(sum(id) AS BIGINT) AS id_checksum
             |FROM cmp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X11: the FULL pretraining preprocessing pipeline as one lazy
    // chain — quality gate → exact dedup (keep-min per content hash) →
    // near-dup removal (star-edge LSH + connected components) →
    // decontamination (eval slice removed from training AND >50%-
    // contaminated train docs dropped) → sharded rollup. Each stage is an
    // operator already oracle-gated on its own (t-family, d1, x5, x6, x7);
    // this gates their COMPOSITION, replayed end to end in one SQL
    // (recursive CC included). Intermediate frames that feed multiple
    // consumers are persisted — Spark re-evaluates plan branches
    // otherwise, and the dedup stage contains iterative CC rounds that
    // must not replay per consumer.
    Q("x11_full_pipeline",
      (s, dir) => {
        import s.implicits._
        val D = graft.dedup.Dedup
        val quality = t(s, dir, "documents")
          .filter(size(split($"text", " ")) >= 10).persist()
        val keepIds = quality.groupBy(md5($"text").as("h"))
          .agg(min($"doc_id").as("doc_id")).select($"doc_id")
        val ex = quality.join(keepIds, Seq("doc_id"), "left_semi").persist()
        val dd = withStreamPartitions(s, 8) {
          D.dedupCorpus(ex, "doc_id", "text", threshold = 0.9).persist()
        }
        val evalSlice = conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long") % 50 === 7
        val cleanIds = D.decontaminate(
            dd.filter(!evalSlice), dd.filter(evalSlice), "doc_id", "text", shingleN = 3)
          .filter($"matched" * 2 <= $"n_grams").select($"id".as("doc_id"))
        val shard = pmod(conv(substring(md5(concat(lit("shard:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
          .cast("long"), lit(4L))
        dd.join(cleanIds, Seq("doc_id"), "left_semi")
          .select($"doc_id", $"n_chars", shard.as("shard"))
          .groupBy($"shard")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("bytes"),
               sum($"doc_id").as("id_checksum"))
          .orderBy($"shard")
      },
      Some("""WITH RECURSIVE
             |quality AS (SELECT * FROM documents WHERE len(string_split(text,' ')) >= 10),
             |exact AS (SELECT min(doc_id) AS keep_id FROM quality GROUP BY md5(text)),
             |ex AS (SELECT q.* FROM quality q JOIN exact e ON q.doc_id = e.keep_id),
             |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM ex),
             |sig AS (SELECT doc_id,
             |    min(md5('0|'||tok)) AS h0, min(md5('1|'||tok)) AS h1,
             |    min(md5('2|'||tok)) AS h2, min(md5('3|'||tok)) AS h3,
             |    min(md5('4|'||tok)) AS h4, min(md5('5|'||tok)) AS h5,
             |    min(md5('6|'||tok)) AS h6, min(md5('7|'||tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0||h1||h2||h3) AS key FROM sig UNION ALL
             |  SELECT doc_id, 1, md5(h4||h5||h6||h7) FROM sig),
             |roots AS (SELECT band, key, min(doc_id) AS root FROM bands
             |          GROUP BY 1, 2 HAVING count(*) > 1),
             |cand AS (SELECT DISTINCT r.root AS id_a, b.doc_id AS id_b
             |         FROM bands b JOIN roots r ON b.band = r.band AND b.key = r.key
             |         WHERE b.doc_id != r.root),
             |sets AS (SELECT doc_id, list_distinct(list_transform(string_split(text,' '),
             |           tok -> ('0x'||substr(md5(tok),1,15))::BIGINT)) AS st FROM ex),
             |pairs AS (SELECT id_a, id_b FROM cand
             |  JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
             |  WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |        / (len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st))) >= 0.9),
             |sym AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
             |reach AS (SELECT a, b FROM sym
             |  UNION
             |  SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a WHERE reach.a != sym.b),
             |labels AS (SELECT a AS node, least(a, min(b)) AS label FROM reach GROUP BY a),
             |losers AS (SELECT node FROM labels WHERE label < node),
             |dd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT node FROM losers)),
             |ev AS (SELECT doc_id, ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 50 = 7 AS is_eval,
             |         string_split(text,' ') AS s FROM dd),
             |gr AS (SELECT doc_id, is_eval, list_distinct(list_transform(range(len(s)-2),
             |         i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]||' '||s[i+3]),1,15))::BIGINT)) AS gs
             |       FROM ev WHERE len(s) >= 3),
             |eg AS (SELECT DISTINCT unnest(gs) AS gram FROM gr WHERE is_eval),
             |contam AS (
             |  SELECT tg.doc_id, count(*) AS ng, count(eg.gram) AS m
             |  FROM (SELECT doc_id, unnest(gs) AS gram FROM gr WHERE NOT is_eval) tg
             |  LEFT JOIN eg ON tg.gram = eg.gram GROUP BY 1),
             |clean AS (SELECT d.* FROM dd d JOIN contam c ON d.doc_id = c.doc_id
             |          WHERE c.m * 2 <= c.ng),
             |sh AS (SELECT doc_id, n_chars,
             |         ('0x'||substr(md5('shard:'||doc_id::VARCHAR),1,15))::BIGINT % 4 AS shard FROM clean)
             |SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes,
             |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
             |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X8: sequence packing (concatenate-and-chunk) — the GPT-style
    // pretraining step that concatenates the shuffled corpus and slices it
    // into fixed 512-token context windows. Packing is per-shard (the x7
    // sharding), so the only order-dependent state is a window cumsum
    // PARTITIONED by shard — no global single-partition window, and each
    // shard packs independently on its own executor at 100 TB. Reports per
    // shard: chunk count, docs straddling a chunk boundary, and a
    // chunk-assignment checksum so the oracle gates the exact packing.
    Q("x8_pack_sequences",
      (s, dir) => {
        import s.implicits._
        val hkey = conv(substring(md5(concat(lit("pack:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
          .cast("long")
        val base = t(s, dir, "documents")
          .select($"doc_id", hkey.as("hkey"),
                  size(split($"text", " ")).cast("long").as("ntok"))
          .withColumn("shard", pmod($"hkey", lit(8L)))
        val w = Window.partitionBy($"shard").orderBy($"hkey")
        base.withColumn("e", sum($"ntok").over(w))
          .select($"shard", $"doc_id", $"e",
            expr("(e - ntok) div 512").as("fc"), expr("(e - 1) div 512").as("lc"))
          .groupBy($"shard")
          .agg(count(lit(1)).as("n_docs"), max($"e").as("total_toks"),
               expr("(max(e) + 511) div 512").as("n_chunks"),
               sum(when($"fc" =!= $"lc", 1L).otherwise(0L)).as("n_crossers"),
               sum($"fc" * $"doc_id").as("chunk_checksum"))
          .orderBy($"shard")
      },
      Some("""WITH h AS (SELECT doc_id,
             |    ('0x'||substr(md5('pack:'||doc_id::VARCHAR),1,15))::BIGINT AS hkey,
             |    len(string_split(text,' ')) AS ntok FROM documents),
             |c AS (SELECT doc_id, hkey % 8 AS shard, ntok,
             |        sum(ntok) OVER (PARTITION BY hkey % 8 ORDER BY hkey) AS e
             |      FROM h),
             |p AS (SELECT shard, doc_id, e, (e - ntok) // 512 AS fc,
             |        (e - 1) // 512 AS lc FROM c)
             |SELECT shard, count(*) AS n_docs, CAST(max(e) AS BIGINT) AS total_toks,
             |  CAST((max(e) + 511) // 512 AS BIGINT) AS n_chunks,
             |  CAST(sum(CASE WHEN fc != lc THEN 1 ELSE 0 END) AS BIGINT) AS n_crossers,
             |  CAST(sum(fc * doc_id) AS BIGINT) AS chunk_checksum
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X9: corpus rebalancing (DoReMi-ish domain reweighting, here by
    // language): downsample every over-represented language to the uniform
    // cap N/k with a deterministic per-doc hash draw. The keep test is
    // EXACT integer math — u60 · k · n_lang < 2^60 · N compared in
    // DECIMAL(38,0) (HUGEINT on the oracle side) — so no float rounding can
    // diverge between engines. The per-language stats table is k rows and
    // broadcast; the corpus is scanned once.
    Q("x9_rebalance",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        // N and k ride along as window folds OVER the k-row stats table —
        // a separate agg branch would re-scan the corpus (Spark does no
        // CSE across branches), and a global window over k rows is free
        val stats = docs.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
        val wAll = Window.partitionBy()
        val statsTot = stats.select($"lang", $"n_lang",
          sum($"n_lang").over(wAll).as("n"), count(lit(1)).over(wAll).as("k"))
        val u60 = conv(substring(md5(concat(lit("rebal:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
          .cast("long")
        docs.select($"doc_id", $"lang", u60.as("u60"))
          .join(broadcast(statsTot), Seq("lang"))
          .filter($"u60".cast("decimal(38,0)") * $"k" * $"n_lang" <
                  lit(1152921504606846976L).cast("decimal(38,0)") * $"n")
          .groupBy($"lang")
          .agg(min($"n_lang").as("n_before"), count(lit(1)).as("n_kept"),
               sum($"doc_id").as("kept_checksum"))
          .orderBy($"lang")
      },
      Some("""WITH stats AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
             |tot AS (SELECT count(*) AS n, count(DISTINCT lang) AS k FROM documents),
             |u AS (SELECT d.doc_id, d.lang, s.n_lang, t.n, t.k,
             |        ('0x'||substr(md5('rebal:'||d.doc_id::VARCHAR),1,15))::BIGINT AS u60
             |      FROM documents d JOIN stats s USING (lang) CROSS JOIN tot t)
             |SELECT lang, CAST(min(n_lang) AS BIGINT) AS n_before,
             |  count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS kept_checksum
             |FROM u
             |WHERE u60::HUGEINT * k * n_lang < 1152921504606846976::HUGEINT * n
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- D7: winnowing fingerprints (Schleimer et al. 2003, the MOSS
    // algorithm) — the duplicated-SPAN detector that n-gram set overlap
    // cannot express: each doc keeps the minimum 3-gram hash of every
    // 4-gram-wide sliding window (guaranteeing any shared run of >= 6
    // tokens shares a fingerprint), then fingerprints seen in >= 2 docs
    // mark copied spans. Gram hashes come from the one-pass native kernel;
    // the window mins are O(w · grams) per doc, map-side. Output: per-doc
    // shared-fingerprint mass histogrammed in 1/10 buckets (bucket 10 =
    // fully duplicated docs).
    Q("d7_winnow_spans",
      (s, dir) => {
        import s.implicits._
        // Persisted: both the shared-fp census and the per-doc join consume
        // it, and Spark does no CSE across branches — without this the
        // corpus would be scanned (and winnowed) twice. O(grams/w) rows;
        // ContextCleaner reclaims the blocks when the plan is GC'd.
        val e = t(s, dir, "documents")
          .filter(size(split($"text", " ")) >= 6) // >= k+w-1 tokens -> >= 1 window
          .select($"doc_id", graft.functions.GraftFunctions.ngram_hashes($"text", 3).as("gs"))
          .select($"doc_id", explode(array_distinct(
            transform(sequence(lit(0), size($"gs") - 4),
              j => array_min(slice($"gs", j + 1, lit(4)))))).as("fp"))
          .persist()
        val shared = e.groupBy($"fp").agg(count(lit(1)).as("nd"))
          .filter($"nd" >= 2).select($"fp", lit(1L).as("hit"))
        e.join(shared, Seq("fp"), "left")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_fp"),
               coalesce(sum($"hit"), lit(0L)).as("n_shared"))
          .select(expr("(n_shared*10) div n_fp").as("bucket"), $"n_shared", $"n_fp")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_docs"), sum($"n_shared").as("sum_shared"),
               sum($"n_fp").as("sum_fp"))
          .orderBy($"bucket")
      },
      Some("""WITH s AS (SELECT doc_id, string_split(text,' ') AS s FROM documents
             |           WHERE len(string_split(text,' ')) >= 6),
             |g AS (SELECT doc_id, list_transform(range(len(s)-2),
             |        i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]||' '||s[i+3]),1,15))::BIGINT) AS gs
             |      FROM s),
             |f AS (SELECT doc_id, list_distinct(list_transform(range(len(gs)-3),
             |        j -> list_min(gs[j+1:j+4]))) AS fps FROM g),
             |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
             |shared AS (SELECT fp FROM e GROUP BY fp HAVING count(*) >= 2),
             |per AS (SELECT e.doc_id, count(*) AS n_fp, count(sh.fp) AS n_shared
             |        FROM e LEFT JOIN shared sh USING (fp) GROUP BY 1)
             |SELECT (n_shared*10)//n_fp AS bucket, count(*) AS n_docs,
             |  CAST(sum(n_shared) AS BIGINT) AS sum_shared,
             |  CAST(sum(n_fp) AS BIGINT) AS sum_fp
             |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- D8: exact duplicated-SPAN removal (Lee et al. ExactSubstr as a
    // distributed n-gram coverage problem — design in
    // Dedup.removeDuplicatedSpans). n=8: an 8-token run shared by chance
    // is vanishingly unlikely in this vocabulary, so what gets cut is the
    // seeded boilerplate (47 docs, ~2.4k tokens at sf0.01). The output IS
    // the rewritten corpus plus the removal census, compared STRING-FOR-
    // STRING against a full DuckDB replay — the strongest oracle shape:
    // not a rollup of the rewrite, the rewrite itself.
    Q("d8_dup_spans",
      (s, dir) => {
        import s.implicits._
        graft.dedup.Dedup.removeDuplicatedSpans(
            t(s, dir, "documents"), "doc_id", "text", n = 8)
          .select($"id".as("doc_id"), $"n_tokens", $"n_removed", $"kept_text")
          .orderBy($"doc_id")
      },
      Some("""WITH s AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
             |g AS (SELECT doc_id, unnest(list_transform(range(len(tk)-7),
             |        i -> {'p': i, 'h': ('0x'||substr(md5(array_to_string(tk[i+1:i+8],' ')),1,15))::BIGINT})) AS u
             |      FROM s WHERE len(tk) >= 8),
             |gg AS (SELECT doc_id, u.p AS p, u.h AS h FROM g),
             |dup AS (SELECT h FROM gg GROUP BY h HAVING count(*) > 1),
             |st AS (SELECT doc_id, p FROM gg JOIN dup USING (h)),
             |rm AS (SELECT DISTINCT st.doc_id, st.p + k AS p
             |       FROM st CROSS JOIN (SELECT unnest(range(8)) AS k)),
             |tok AS (SELECT doc_id, unnest(list_transform(range(len(tk)),
             |          i -> {'p': i, 'tok': tk[i+1]})) AS u FROM s),
             |tt AS (SELECT doc_id, u.p AS p, u.tok AS tok FROM tok),
             |kept AS (SELECT tt.doc_id, tt.p, tt.tok FROM tt
             |         LEFT JOIN rm ON tt.doc_id = rm.doc_id AND tt.p = rm.p
             |         WHERE rm.p IS NULL)
             |SELECT s.doc_id, len(s.tk)::BIGINT AS n_tokens,
             |  (len(s.tk) - count(kept.p))::BIGINT AS n_removed,
             |  coalesce(string_agg(kept.tok, ' ' ORDER BY kept.p), '') AS kept_text
             |FROM s LEFT JOIN kept ON s.doc_id = kept.doc_id
             |GROUP BY s.doc_id, len(s.tk)
             |ORDER BY s.doc_id""".stripMargin)),

    // ----- T10: Gopher-style HARD rule filter (Rae et al. 2021 §A1.1, the
    // rule set Dolma/FineWeb descend from) — complements t3's soft
    // composite score: each rule is a named pass/fail gate and the output
    // is the per-language census of which gates fire. All arithmetic is
    // integer-exact (×100 fixed-point for the ratios, `div` both sides) so
    // the oracle hash is immune to float drift. One narrow projection +
    // one 5-key groupBy: a single map-side-combined pass at any scale.
    // Rules (bounds tuned to this corpus's word-length regime): word count
    // in [20,90]; mean word length in [3.00,10.00]; distinct-token ratio
    // >= 40%; >= 2 stopword occurrences.
    Q("t10_gopher_rules",
      (s, dir) => {
        import s.implicits._
        val tk = split($"text", " ")
        val nw = size(tk).cast("long")
        val docs = t(s, dir, "documents").select($"lang",
          nw.as("nw"),
          // total token chars: single-space separated, so n_chars = sum + (nw-1)
          ($"n_chars" - nw + 1).as("sc"),
          size(array_distinct(tk)).cast("long").as("nd"),
          size(filter(tk, t => t.isin("the", "a", "of", "to", "and")))
            .cast("long").as("nstop"))
        val fWc = $"nw" < 20 || $"nw" > 90
        val fMwl = expr("(sc * 100) div nw") < 300 || expr("(sc * 100) div nw") > 1000
        val fUniq = expr("(nd * 100) div nw") < 40
        val fStop = $"nstop" < 2
        def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
        docs.groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
               cnt(!fWc && !fMwl && !fUniq && !fStop).as("n_pass"),
               cnt(fWc).as("f_wc"), cnt(fMwl).as("f_mwl"),
               cnt(fUniq).as("f_uniq"), cnt(fStop).as("f_stop"))
          .orderBy($"lang")
      },
      Some("""WITH s AS (SELECT lang, len(string_split(text,' ')) AS nw,
             |    n_chars - len(string_split(text,' ')) + 1 AS sc,
             |    len(list_distinct(string_split(text,' '))) AS nd,
             |    len(list_filter(string_split(text,' '),
             |        t -> t IN ('the','a','of','to','and'))) AS nstop
             |  FROM documents),
             |r AS (SELECT lang,
             |    (nw < 20 OR nw > 90) AS f_wc,
             |    ((sc*100)//nw < 300 OR (sc*100)//nw > 1000) AS f_mwl,
             |    ((nd*100)//nw < 40) AS f_uniq,
             |    (nstop < 2) AS f_stop
             |  FROM s)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN NOT f_wc AND NOT f_mwl AND NOT f_uniq AND NOT f_stop
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
             |  CAST(sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS f_wc,
             |  CAST(sum(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS f_mwl,
             |  CAST(sum(CASE WHEN f_uniq THEN 1 ELSE 0 END) AS BIGINT) AS f_uniq,
             |  CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS f_stop
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),

    // ----- D9: SemDeDup — semantic dedup over embedding clusters (design
    // in Ann.semDedup). Same k=8/iters=2 trained quantizer as v6, so the
    // oracle reuses v6's full SQL k-means replay verbatim and adds the
    // within-cluster pairwise stage on top: cluster assignment AND the
    // drop sweep are both recomputed independently end-to-end. tau=0.40
    // sits 1.1e-4 clear of the nearest data cosine (both engines compute
    // the identical integer dot / integer norm expression, d5 precedent).
    Q("d9_semdedup",
      (s, dir) => {
        import s.implicits._
        val prepared = graft.ann.Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        graft.ann.Ann.semDedup(prepared, k = 8, iters = 2, tau = 0.40)
          .groupBy($"cid".cast("int").as("cid"))
          .agg(count(lit(1)).as("n"),
               sum(when($"drop", 1L).otherwise(0L)).as("n_drop"),
               sum(when(!$"drop", $"id").otherwise(0L)).as("sum_kept"))
          .orderBy($"cid")
      },
      Some("""WITH q AS (SELECT vec_id AS id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, qv AS cv
             |       FROM q ORDER BY id LIMIT 8),
             |dim AS (SELECT CAST(i AS INT) AS d FROM range(0,64) t(i)),
             |e1 AS (SELECT q.id, c0.cid,
             |         sum((q.qv[d+1]-c0.cv[d+1])*(q.qv[d+1]-c0.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c0 CROSS JOIN dim GROUP BY q.id, c0.cid),
             |a1 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e1)
             |       WHERE rn = 1),
             |u1 AS (SELECT a1.cid, d,
             |         CAST(floor(CAST(sum(q.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM a1 JOIN q USING (id) CROSS JOIN dim GROUP BY a1.cid, d),
             |c1 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u1 GROUP BY cid
             |       UNION ALL
             |       SELECT c0.cid, c0.cv FROM c0 WHERE c0.cid NOT IN (SELECT cid FROM u1)),
             |e2 AS (SELECT q.id, c1.cid,
             |         sum((q.qv[d+1]-c1.cv[d+1])*(q.qv[d+1]-c1.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c1 CROSS JOIN dim GROUP BY q.id, c1.cid),
             |a2 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e2)
             |       WHERE rn = 1),
             |u2 AS (SELECT a2.cid, d,
             |         CAST(floor(CAST(sum(q.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM a2 JOIN q USING (id) CROSS JOIN dim GROUP BY a2.cid, d),
             |c2 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u2 GROUP BY cid
             |       UNION ALL
             |       SELECT c1.cid, c1.cv FROM c1 WHERE c1.cid NOT IN (SELECT cid FROM u2)),
             |e3 AS (SELECT q.id, c2.cid,
             |         sum((q.qv[d+1]-c2.cv[d+1])*(q.qv[d+1]-c2.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c2 CROSS JOIN dim GROUP BY q.id, c2.cid),
             |a3 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e3)
             |       WHERE rn = 1),
             |n AS (SELECT id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM q),
             |p AS (SELECT x.cid, x.id AS id_a, y.id AS id_b,
             |        round(list_sum(list_transform(list_zip(a.qv,b.qv), s -> s[1]*s[2]))::DOUBLE
             |              / (sqrt(a.nq::DOUBLE)*sqrt(b.nq::DOUBLE)), 6) AS cos
             |      FROM a3 x JOIN a3 y ON x.cid = y.cid AND x.id < y.id
             |      JOIN n a ON x.id = a.id JOIN n b ON y.id = b.id),
             |drp AS (SELECT DISTINCT id_b AS id FROM p WHERE cos >= 0.40)
             |SELECT CAST(a3.cid AS INT) AS cid, count(*) AS n,
             |  CAST(count(drp.id) AS BIGINT) AS n_drop,
             |  CAST(sum(CASE WHEN drp.id IS NULL THEN a3.id ELSE 0 END) AS BIGINT) AS sum_kept
             |FROM a3 LEFT JOIN drp ON a3.id = drp.id
             |GROUP BY a3.cid ORDER BY a3.cid""".stripMargin)),

    // ----- X30: the VECTOR-side flagship — the semantic curation +
    // serving recipe as ONE oracle-gated chain (x21/x23 are the text
    // flagships; this is the embedding pipeline a RAG/retrieval stack
    // ships): SemDeDup over the corpus (d9's clustering + cosine drop
    // rule) → IVF-SQ8 index built on the SURVIVORS (v14's bounded
    // models, map-only encodes) → every standard query served through
    // the large-scale path — probe-bounded code-space shortlist
    // (v16's join shape) → exact integer-L2 re-rank (v12's second
    // stage), self-matches excluded. Every stage is an operator already
    // oracle-gated alone; this gates their COMPOSITION: the DuckDB
    // replay chains the d9 semdedup CTEs, coarse training over the
    // kept set, the corpus-only grid, both encodes, 2-probe routing,
    // the top-16 shortlist, and the exact re-rank, bit-for-bit.
    Q("x30_semantic_recipe",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
          .persist() // feeds semdedup, the index, queries, and the re-rank
        val sd = Ann.semDedup(prepared, k = 8, iters = 2, tau = 0.40)
        val kept = prepared.join(
          sd.filter(!$"drop").select($"id"), Seq("id"), "left_semi")
        val queries = prepared.filter($"id" % 50 === 0)
        val shortlist = Ann.ivfSqJoin(kept, queries,
            kCells = 4, coarseIters = 1, nProbes = 2, k = 16)
          .filter($"qid" =!= $"nid")
        Ann.rerankExact(shortlist, prepared, 3)
          .orderBy($"qid", $"rk")
      },
      Some("""WITH q AS (SELECT vec_id AS id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |dim AS (SELECT CAST(i AS INT) AS d FROM range(0,64) t(i)),
             |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, qv AS cv
             |       FROM q ORDER BY id LIMIT 8),
             |e1 AS (SELECT q.id, c0.cid,
             |         sum((q.qv[d+1]-c0.cv[d+1])*(q.qv[d+1]-c0.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c0 CROSS JOIN dim GROUP BY q.id, c0.cid),
             |a1 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e1)
             |       WHERE rn = 1),
             |u1 AS (SELECT a1.cid, d,
             |         CAST(floor(CAST(sum(q.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM a1 JOIN q USING (id) CROSS JOIN dim GROUP BY a1.cid, d),
             |c1 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u1 GROUP BY cid
             |       UNION ALL
             |       SELECT c0.cid, c0.cv FROM c0 WHERE c0.cid NOT IN (SELECT cid FROM u1)),
             |e2 AS (SELECT q.id, c1.cid,
             |         sum((q.qv[d+1]-c1.cv[d+1])*(q.qv[d+1]-c1.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c1 CROSS JOIN dim GROUP BY q.id, c1.cid),
             |a2 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e2)
             |       WHERE rn = 1),
             |u2 AS (SELECT a2.cid, d,
             |         CAST(floor(CAST(sum(q.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM a2 JOIN q USING (id) CROSS JOIN dim GROUP BY a2.cid, d),
             |c2 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u2 GROUP BY cid
             |       UNION ALL
             |       SELECT c1.cid, c1.cv FROM c1 WHERE c1.cid NOT IN (SELECT cid FROM u2)),
             |e3 AS (SELECT q.id, c2.cid,
             |         sum((q.qv[d+1]-c2.cv[d+1])*(q.qv[d+1]-c2.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c2 CROSS JOIN dim GROUP BY q.id, c2.cid),
             |a3 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e3)
             |       WHERE rn = 1),
             |nn AS (SELECT id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM q),
             |pp AS (SELECT x.id AS id_a, y.id AS id_b,
             |        round(list_sum(list_transform(list_zip(a.qv,b.qv), s -> s[1]*s[2]))::DOUBLE
             |              / (sqrt(a.nq::DOUBLE)*sqrt(b.nq::DOUBLE)), 6) AS cos
             |      FROM a3 x JOIN a3 y ON x.cid = y.cid AND x.id < y.id
             |      JOIN nn a ON x.id = a.id JOIN nn b ON y.id = b.id),
             |drp AS (SELECT DISTINCT id_b AS id FROM pp WHERE cos >= 0.40),
             |kq AS MATERIALIZED (SELECT q.id, q.qv FROM q LEFT JOIN drp ON q.id = drp.id
             |      WHERE drp.id IS NULL),
             |k0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, qv AS cv
             |       FROM kq ORDER BY id LIMIT 4),
             |f1 AS (SELECT kq.id, k0.cid,
             |         sum((kq.qv[d+1]-k0.cv[d+1])*(kq.qv[d+1]-k0.cv[d+1])) AS d2
             |       FROM kq CROSS JOIN k0 CROSS JOIN dim GROUP BY kq.id, k0.cid),
             |b1 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM f1)
             |       WHERE rn = 1),
             |v1 AS (SELECT b1.cid, d,
             |         CAST(floor(CAST(sum(kq.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM b1 JOIN kq USING (id) CROSS JOIN dim GROUP BY b1.cid, d),
             |kc1 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM v1 GROUP BY cid
             |       UNION ALL
             |       SELECT k0.cid, k0.cv FROM k0 WHERE k0.cid NOT IN (SELECT cid FROM v1)),
             |f2 AS (SELECT kq.id, kc1.cid,
             |         sum((kq.qv[d+1]-kc1.cv[d+1])*(kq.qv[d+1]-kc1.cv[d+1])) AS d2
             |       FROM kq CROSS JOIN kc1 CROSS JOIN dim GROUP BY kq.id, kc1.cid),
             |ac AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM f2)
             |       WHERE rn = 1),
             |px AS (SELECT kq.id, d, qv[d+1] AS x FROM kq CROSS JOIN dim),
             |grid AS (SELECT d, min(x) AS mn, max(x) AS mx FROM px GROUP BY d),
             |encc AS MATERIALIZED (SELECT px.id, px.d,
             |         CASE WHEN g.mx = g.mn THEN 0
             |              ELSE least(255, (greatest(0, px.x - g.mn) * 255) // (g.mx - g.mn)) END AS code
             |       FROM px JOIN grid g USING (d)),
             |qu AS (SELECT id, qv FROM q WHERE id % 50 = 0),
             |qx AS (SELECT qu.id, d, qv[d+1] AS x FROM qu CROSS JOIN dim),
             |encq AS MATERIALIZED (SELECT qx.id, qx.d,
             |         CASE WHEN g.mx = g.mn THEN 0
             |              ELSE least(255, (greatest(0, qx.x - g.mn) * 255) // (g.mx - g.mn)) END AS code
             |       FROM qx JOIN grid g USING (d)),
             |pe AS (SELECT qu.id, kc1.cid,
             |         sum((qu.qv[d+1]-kc1.cv[d+1])*(qu.qv[d+1]-kc1.cv[d+1])) AS d2
             |       FROM qu CROSS JOIN kc1 CROSS JOIN dim GROUP BY qu.id, kc1.cid),
             |pb AS (SELECT id AS qid, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM pe)
             |       WHERE rn <= 2),
             |pd AS (SELECT pb.qid, ac.id AS nid,
             |         sum((qe.code - e.code) * (qe.code - e.code)) AS d2c
             |       FROM pb JOIN ac ON ac.cid = pb.cid
             |       JOIN encc e ON e.id = ac.id
             |       JOIN encq qe ON qe.id = pb.qid AND qe.d = e.d
             |       GROUP BY 1, 2),
             |sl AS (SELECT qid, nid FROM (SELECT qid, nid, d2c,
             |         row_number() OVER (PARTITION BY qid ORDER BY d2c, nid) AS rn FROM pd)
             |       WHERE rn <= 16 AND qid != nid),
             |rr AS (SELECT sl.qid, sl.nid,
             |         a.nq + b.nq - 2 * list_sum(list_transform(list_zip(a.qv, b.qv), s -> s[1]*s[2])) AS dist
             |       FROM sl JOIN nn a ON a.id = sl.qid JOIN nn b ON b.id = sl.nid),
             |fin AS (SELECT qid, nid, dist,
             |         row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rk FROM rr)
             |SELECT qid, CAST(rk AS INT) AS rk, nid, CAST(dist AS BIGINT) AS dist
             |FROM fin WHERE rk <= 3 ORDER BY qid, rk""".stripMargin)),

    // ----- X14: the corpus-REWRITE pipeline — the round-6 capstone
    // composing the new operators in the order a production pipeline runs
    // them: (1) Gopher hard rules (t10's gates) drop junk docs FIRST, so
    // (2) duplicated-span removal (d8, n=8) computes its gram census over
    // the SURVIVORS only — cheaper and semantically right: boilerplate in
    // dropped junk must not trigger span deletion in kept docs — then
    // (3) exact dedup of the REWRITTEN text (span removal can make
    // formerly-distinct docs identical; md5 groupBy, keep min id) and
    // empty rewrites are dropped. ONE lazy plan end to end. The oracle
    // replays the entire chain in SQL, census-checked per language with a
    // corpus checksum over the final rewritten texts.
    Q("x14_rewrite_pipeline",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val tk = split($"text", " ")
        val stats = docs.select($"doc_id", $"lang", $"text",
          size(tk).cast("long").as("nw"),
          ($"n_chars" - size(tk).cast("long") + 1).as("sc"),
          size(array_distinct(tk)).cast("long").as("nd"),
          size(filter(tk, t => t.isin("the", "a", "of", "to", "and")))
            .cast("long").as("nstop"))
        val pass = !($"nw" < 20 || $"nw" > 90) &&
          !(expr("(sc*100) div nw") < 300 || expr("(sc*100) div nw") > 1000) &&
          !(expr("(nd*100) div nw") < 40) && !($"nstop" < 2)
        val passing = stats.filter(pass).select($"doc_id", $"lang", $"text")
        val rewritten = graft.dedup.Dedup
          .removeDuplicatedSpans(passing, "doc_id", "text", n = 8)
          .filter($"kept_text" =!= "")
          .join(passing.select($"doc_id".as("id"), $"lang"), Seq("id"))
        val keeper = rewritten.groupBy(md5($"kept_text").as("h"))
          .agg(min($"id").as("id"))
        val fin = rewritten.join(keeper.select($"id"), Seq("id"), "left_semi")
        val base = docs.groupBy($"lang").agg(count(lit(1)).as("n_in"))
        val pcount = passing.groupBy($"lang").agg(count(lit(1)).as("n_pass"))
        val census = fin.groupBy($"lang").agg(
          count(lit(1)).as("n_final"),
          sum($"n_tokens" - $"n_removed").as("sum_kept_tokens"),
          sum(conv(substring(md5($"kept_text"), 1, 15), 16, 10).cast("long")
            % 1000000000L).as("chk"))
        base.join(pcount, Seq("lang"), "left").join(census, Seq("lang"), "left")
          .select($"lang", $"n_in",
            coalesce($"n_pass", lit(0L)).as("n_pass"),
            coalesce($"n_final", lit(0L)).as("n_final"),
            coalesce($"sum_kept_tokens", lit(0L)).as("sum_kept_tokens"),
            coalesce($"chk", lit(0L)).as("chk"))
          .orderBy($"lang")
      },
      Some("""WITH s0 AS (SELECT doc_id, lang, string_split(text,' ') AS tk, n_chars FROM documents),
             |st0 AS (SELECT doc_id, lang, tk, len(tk) AS nw,
             |         n_chars - len(tk) + 1 AS sc,
             |         len(list_distinct(tk)) AS nd,
             |         len(list_filter(tk, t -> t IN ('the','a','of','to','and'))) AS nstop
             |       FROM s0),
             |r AS (SELECT doc_id, lang, tk FROM st0
             |      WHERE NOT (nw < 20 OR nw > 90)
             |        AND NOT ((sc*100)//nw < 300 OR (sc*100)//nw > 1000)
             |        AND NOT ((nd*100)//nw < 40)
             |        AND NOT (nstop < 2)),
             |g AS (SELECT doc_id, unnest(list_transform(range(len(tk)-7),
             |        i -> {'p': i, 'h': ('0x'||substr(md5(array_to_string(tk[i+1:i+8],' ')),1,15))::BIGINT})) AS u
             |      FROM r WHERE len(tk) >= 8),
             |gg AS (SELECT doc_id, u.p AS p, u.h AS h FROM g),
             |dup AS (SELECT h FROM gg GROUP BY h HAVING count(*) > 1),
             |stt AS (SELECT doc_id, p FROM gg JOIN dup USING (h)),
             |rm AS (SELECT DISTINCT stt.doc_id, stt.p + k AS p
             |       FROM stt CROSS JOIN (SELECT unnest(range(8)) AS k)),
             |tok AS (SELECT doc_id, unnest(list_transform(range(len(tk)),
             |          i -> {'p': i, 'tok': tk[i+1]})) AS u FROM r),
             |tt AS (SELECT doc_id, u.p AS p, u.tok AS tok FROM tok),
             |kept AS (SELECT tt.doc_id, tt.p, tt.tok FROM tt
             |         LEFT JOIN rm ON tt.doc_id = rm.doc_id AND tt.p = rm.p
             |         WHERE rm.p IS NULL),
             |rw AS (SELECT r.doc_id, r.lang,
             |         count(kept.p) AS n_kept,
             |         coalesce(string_agg(kept.tok, ' ' ORDER BY kept.p), '') AS kept_text
             |       FROM r LEFT JOIN kept ON r.doc_id = kept.doc_id
             |       GROUP BY r.doc_id, r.lang),
             |ne AS (SELECT * FROM rw WHERE kept_text <> ''),
             |keeper AS (SELECT min(doc_id) AS doc_id FROM ne GROUP BY md5(kept_text)),
             |fin AS (SELECT ne.* FROM ne JOIN keeper USING (doc_id)),
             |base AS (SELECT lang, count(*) AS n_in FROM documents GROUP BY lang),
             |pss AS (SELECT lang, count(*) AS n_pass FROM r GROUP BY lang),
             |cen AS (SELECT lang, count(*) AS n_final,
             |          CAST(sum(n_kept) AS BIGINT) AS sum_kept_tokens,
             |          CAST(sum(('0x'||substr(md5(kept_text),1,15))::BIGINT % 1000000000) AS BIGINT) AS chk
             |        FROM fin GROUP BY lang)
             |SELECT base.lang, base.n_in,
             |  coalesce(pss.n_pass, 0) AS n_pass,
             |  coalesce(cen.n_final, 0) AS n_final,
             |  coalesce(cen.sum_kept_tokens, 0) AS sum_kept_tokens,
             |  coalesce(cen.chk, 0) AS chk
             |FROM base LEFT JOIN pss USING (lang) LEFT JOIN cen USING (lang)
             |ORDER BY lang""".stripMargin)),

    // ----- T11: BPE tokenizer TRAINING (design in text.Bpe) — the merge
    // table is the artifact a tokenizer ships, and the oracle replays all
    // 8 merge rounds unrolled in SQL (the v6 k-means pattern): pair
    // census over the word-frequency table, deterministic (count desc,
    // left, right) argmax, greedy non-overlapping list_reduce merge —
    // both the LEARNED PAIRS and their weighted counts must match.
    Q("t11_bpe_train",
      (s, dir) => {
        import s.implicits._
        graft.text.Bpe.train(t(s, dir, "documents"), "text", numMerges = 8)
          .orderBy($"rank")
      },
      Some(bpeTrainOracle8)),

    // ----- T12: BPE training, the AT-SCALE trainer (Bpe.trainLocal —
    // one corpus-sized word-frequency reduction, then the classical
    // indexed merge loop driver-side with ZERO further Spark jobs; the
    // distributed loop's one-job-per-merge bound makes 32k-merge vocabs
    // infeasible there, see Bpe scaladoc + SCALE.md). Bit-identical to
    // t11 by construction, so it shares t11's 8-round unrolled oracle —
    // the SQL replay now gates BOTH trainers independently.
    Q("t12_bpe_train_local",
      (s, dir) => {
        import s.implicits._
        graft.text.Bpe.trainLocal(t(s, dir, "documents"), "text", numMerges = 8)
          .orderBy($"rank")
      },
      Some(bpeTrainOracle8)),

    // ----- X15: INCREMENTAL span dedup — the daily-ingest form of d8
    // (design in Dedup.admitSpans): the old corpus (doc_id % 4 != 0)
    // contributes only its STORED gram census; the new batch is rewritten
    // against that index plus its own within-batch repeats, and history
    // is never re-scanned. Completes the incremental family: x10 (LSH
    // dedup), v8 (ANN admission), x15 (span dedup). Oracle replays the
    // index build AND the admission in SQL; output is the new batch's
    // rewrite, string-for-string.
    Q("x15_incremental_spans",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val index = graft.dedup.Dedup.spanIndex(
          docs.filter($"doc_id" % 4 =!= 0), "doc_id", "text", n = 8)
        graft.dedup.Dedup.admitSpans(
            docs.filter($"doc_id" % 4 === 0), index, "doc_id", "text", n = 8)
          .select($"id".as("doc_id"), $"n_tokens", $"n_removed", $"kept_text")
          .orderBy($"doc_id")
      },
      Some("""WITH s AS (SELECT doc_id, string_split(text,' ') AS tk,
             |            doc_id % 4 = 0 AS is_new FROM documents),
             |g AS (SELECT doc_id, is_new, unnest(list_transform(range(len(tk)-7),
             |        i -> {'p': i, 'h': ('0x'||substr(md5(array_to_string(tk[i+1:i+8],' ')),1,15))::BIGINT})) AS u
             |      FROM s WHERE len(tk) >= 8),
             |gg AS (SELECT doc_id, is_new, u.p AS p, u.h AS h FROM g),
             |idx AS (SELECT h, count(*) AS c FROM gg WHERE NOT is_new GROUP BY h),
             |wn AS (SELECT h, count(*) AS cn FROM gg WHERE is_new GROUP BY h),
             |dup AS (SELECT wn.h FROM wn LEFT JOIN idx USING (h)
             |        WHERE cn + coalesce(c, 0) > 1),
             |stt AS (SELECT doc_id, p FROM gg JOIN dup USING (h) WHERE is_new),
             |rm AS (SELECT DISTINCT stt.doc_id, stt.p + k AS p
             |       FROM stt CROSS JOIN (SELECT unnest(range(8)) AS k)),
             |tok AS (SELECT doc_id, unnest(list_transform(range(len(tk)),
             |          i -> {'p': i, 'tok': tk[i+1]})) AS u FROM s WHERE is_new),
             |tt AS (SELECT doc_id, u.p AS p, u.tok AS tok FROM tok),
             |kept AS (SELECT tt.doc_id, tt.p, tt.tok FROM tt
             |         LEFT JOIN rm ON tt.doc_id = rm.doc_id AND tt.p = rm.p
             |         WHERE rm.p IS NULL)
             |SELECT s.doc_id, len(s.tk)::BIGINT AS n_tokens,
             |  (len(s.tk) - count(kept.p))::BIGINT AS n_removed,
             |  coalesce(string_agg(kept.tok, ' ' ORDER BY kept.p), '') AS kept_text
             |FROM s LEFT JOIN kept ON s.doc_id = kept.doc_id
             |WHERE s.is_new
             |GROUP BY s.doc_id, len(s.tk)
             |ORDER BY s.doc_id""".stripMargin)),

    // ----- X16: DSIR-style data selection (Dsir.affinityScores — Xie
    // et al. 2023, arXiv:2302.03169): score every document by hashed-
    // bigram affinity to the lang='en' target slice vs the whole corpus.
    // The hashed feature space bounds both "language models" at 1024
    // count rows regardless of corpus size — the paper's scalability
    // trick — so scoring is two census groupBys + one broadcast join +
    // one per-doc sum. Engine-exact: Laplace-smoothed probabilities
    // quantized by integer floor division, integer sums (the repo's
    // float-free discipline); the true log-ratio weight variant is
    // spec-gated in DsirSpec.
    Q("x16_dsir_weights",
      (s, dir) => {
        import s.implicits._
        import graft.text.Dsir
        val docs = t(s, dir, "documents")
        val tc = Dsir.bucketCounts(docs.filter($"lang" === "en"), "text", 2, 1024)
        val rc = Dsir.bucketCounts(docs, "text", 2, 1024)
        Dsir.affinityScores(docs, "doc_id", "text", tc, rc, n = 2,
            numBuckets = 1024)
          .orderBy($"doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, lang, string_split(text,' ') AS s
             |           FROM documents),
             |g AS (SELECT doc_id, lang,
             |        unnest(list_transform(range(len(s)-1),
             |          i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]),1,15))::BIGINT % 1024)) AS b
             |      FROM tk WHERE len(s) >= 2),
             |tc AS (SELECT b, count(*) AS c FROM g WHERE lang = 'en' GROUP BY b),
             |rc AS (SELECT b, count(*) AS c FROM g GROUP BY b),
             |tt AS (SELECT count(*) AS t FROM g WHERE lang = 'en'),
             |rt AS (SELECT count(*) AS t FROM g),
             |q AS (SELECT g.doc_id,
             |        (1000000000 * (coalesce(tc.c, 0) + 1)) // (tt.t + 1024)
             |      - (1000000000 * (coalesce(rc.c, 0) + 1)) // (rt.t + 1024) AS d
             |      FROM g LEFT JOIN tc ON g.b = tc.b
             |             LEFT JOIN rc ON g.b = rc.b, tt, rt),
             |sc AS (SELECT doc_id, sum(d) AS score, count(*) AS n_grams
             |       FROM q GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
             |  CAST(coalesce(sc.n_grams, 0) AS BIGINT) AS n_grams
             |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ----- X17: DSIR log-likelihood-ratio weights (Dsir.logRatioWeights
    // — the paper's §3 importance weight, Xie et al. 2023): same hashed-
    // bigram census as x16, but the per-bucket model term is
    // ln p̂_target − ln p̂_raw, quantized to micro-nats (1e6) BEFORE the
    // per-doc integer sum — the quantization happens once per bucket
    // (1024 values), so a last-ulp ln() difference between engines would
    // need to land inside a 1e-9-wide boundary band to flip a value.
    Q("x17_dsir_logratio",
      (s, dir) => {
        import s.implicits._
        import graft.text.Dsir
        val docs = t(s, dir, "documents")
        val tc = Dsir.bucketCounts(docs.filter($"lang" === "en"), "text", 2, 1024)
        val rc = Dsir.bucketCounts(docs, "text", 2, 1024)
        Dsir.logRatioWeights(docs, "doc_id", "text", tc, rc, n = 2,
            numBuckets = 1024, quantDigits = 6)
          .orderBy($"doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, lang, string_split(text,' ') AS s
             |           FROM documents),
             |g AS (SELECT doc_id, lang,
             |        unnest(list_transform(range(len(s)-1),
             |          i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]),1,15))::BIGINT % 1024)) AS b
             |      FROM tk WHERE len(s) >= 2),
             |tc AS (SELECT b, count(*) AS c FROM g WHERE lang = 'en' GROUP BY b),
             |rc AS (SELECT b, count(*) AS c FROM g GROUP BY b),
             |tt AS (SELECT count(*) AS t FROM g WHERE lang = 'en'),
             |rt AS (SELECT count(*) AS t FROM g),
             |q AS (SELECT g.doc_id,
             |        CAST(floor((ln(((coalesce(tc.c, 0) + 1)::DOUBLE) / ((tt.t + 1024)::DOUBLE))
             |                  - ln(((coalesce(rc.c, 0) + 1)::DOUBLE) / ((rt.t + 1024)::DOUBLE)))
             |               * 1000000 + 0.5) AS BIGINT) AS d
             |      FROM g LEFT JOIN tc ON g.b = tc.b
             |             LEFT JOIN rc ON g.b = rc.b, tt, rt),
             |sc AS (SELECT doc_id, sum(d) AS weight, count(*) AS n_grams
             |       FROM q GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CAST(coalesce(sc.weight, 0) AS BIGINT) AS weight,
             |  CAST(coalesce(sc.n_grams, 0) AS BIGINT) AS n_grams
             |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ----- X18: DSIR importance RESAMPLING (Dsir.resample — the paper's
    // actual selection step): Gumbel-top-k over the x17 log-ratio
    // weights draws 200 of the 500 docs ∝ exp(weight), with seeded md5
    // noise (u from the first 52 md5 bits of "doc_id:42" — exactly
    // representable, so −ln(−ln u) is finite and engine-portable) and an
    // integer-quantized selection key; the oracle replays noise, key,
    // and top-k in SQL. Spark plan is TakeOrderedAndProject — top-k
    // without a full sort.
    Q("x18_dsir_resample",
      (s, dir) => {
        import s.implicits._
        import graft.text.Dsir
        val docs = t(s, dir, "documents")
        val tc = Dsir.bucketCounts(docs.filter($"lang" === "en"), "text", 2, 1024)
        val rc = Dsir.bucketCounts(docs, "text", 2, 1024)
        val w = Dsir.logRatioWeights(docs, "doc_id", "text", tc, rc, n = 2,
            numBuckets = 1024, quantDigits = 6)
          .select($"doc_id", $"weight")
        Dsir.resample(w, "doc_id", "weight", k = 200, quantDigits = 6,
            seed = 42L)
          .orderBy($"gkey".desc, $"doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, lang, string_split(text,' ') AS s
             |           FROM documents),
             |g AS (SELECT doc_id, lang,
             |        unnest(list_transform(range(len(s)-1),
             |          i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]),1,15))::BIGINT % 1024)) AS b
             |      FROM tk WHERE len(s) >= 2),
             |tc AS (SELECT b, count(*) AS c FROM g WHERE lang = 'en' GROUP BY b),
             |rc AS (SELECT b, count(*) AS c FROM g GROUP BY b),
             |tt AS (SELECT count(*) AS t FROM g WHERE lang = 'en'),
             |rt AS (SELECT count(*) AS t FROM g),
             |q AS (SELECT g.doc_id,
             |        CAST(floor((ln(((coalesce(tc.c, 0) + 1)::DOUBLE) / ((tt.t + 1024)::DOUBLE))
             |                  - ln(((coalesce(rc.c, 0) + 1)::DOUBLE) / ((rt.t + 1024)::DOUBLE)))
             |               * 1000000 + 0.5) AS BIGINT) AS d
             |      FROM g LEFT JOIN tc ON g.b = tc.b
             |             LEFT JOIN rc ON g.b = rc.b, tt, rt),
             |sc AS (SELECT doc_id, sum(d) AS weight FROM q GROUP BY doc_id),
             |w AS (SELECT d.doc_id, CAST(coalesce(sc.weight, 0) AS BIGINT) AS weight
             |      FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
             |sel AS (SELECT doc_id, weight,
             |    CAST(floor((weight / 1000000.0
             |        - ln(-ln(((('0x'||substr(md5(doc_id::VARCHAR||':42'),1,13))::BIGINT)::DOUBLE + 0.5)
             |                  / 4503599627370496.0)))
             |      * 1000000 + 0.5) AS BIGINT) AS gkey
             |  FROM w)
             |SELECT doc_id, weight, gkey FROM sel
             |ORDER BY gkey DESC, doc_id LIMIT 200""".stripMargin)),

    // ----- P10/S7: the reader-table OPEN-ONCE invariant, oracle-gated.
    // 20 assets share 7 distinct urls and every (asset x chunk) row lands
    // in the single chunk (0,0) — one partition key, so ONE task under
    // ANY parallelism (the scan has one input partition per chunk — this
    // is what makes the count engine-deterministic and the A/B
    // parallelism-invariant).
    // The per-task reader cache (ReaderCache, S7) must
    // therefore construct exactly count(DISTINCT url) = 7 readers for 20
    // work rows — without the cache this reads 20. A LongAccumulator in
    // readerFor observes the opens; RampReader's closed-form pixels give
    // the oracle an exact read-integrity checksum on top (sum over the
    // full 64x64 grid per asset, summable in SQL).
    Q("p10_open_once",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.scan.{AssetRow, RampReader, TileScan}
        val spec = RasterSpec(32633, Bounds(0.0, 0.0, 640.0, 640.0), 10.0, 10.0)
        val assets = (0 until 20).map { i =>
          AssetRow(i, i, "b", 0L, s"fake://u${i % 7}",
            0.0, 0.0, 640.0, 640.0, 1.0, 0.0)
        }
        val nRows = TileScan.workList(assets, spec, 64, 64).size.toLong
        val opens = s.sparkContext.longAccumulator("reader_opens")
        val tiles = TileScan.scan(s, assets, spec, chunk = 64,
          readerFor = a => { opens.add(1); RampReader(64) })
        val agg = tiles.toDF()
          .agg(count(lit(1)).as("n"),
               sum(aggregate($"pixels", lit(0.0), (acc, x) => acc + x)).as("s"))
          .collect()(0)
        Seq((nRows, agg.getLong(0), opens.value.toLong, agg.getDouble(1).toLong))
          .toDF("n_rows", "n_tiles", "n_opens", "sum_px")
      },
      Some("""WITH u AS (SELECT unnest(range(20)) AS i),
             |px AS (SELECT sum(r.r * 64 + c.c) AS s
             |       FROM (SELECT unnest(range(64)) AS r) r
             |       CROSS JOIN (SELECT unnest(range(64)) AS c) c)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) AS BIGINT) AS n_tiles,
             |  CAST(count(DISTINCT i % 7) AS BIGINT) AS n_opens,
             |  CAST((SELECT s FROM px) * count(*) AS BIGINT) AS sum_px
             |FROM u""".stripMargin)),

    // ----- T13: CCNet perplexity terciles (Perplexity.nll — Wenzek et
    // al. 2020): hashed-bigram LM trained on the trusted slice (en docs
    // with doc_id%3=0, standing in for CCNet's Wikipedia KenLM), every
    // doc scored by integer micro-nat mean NLL (exp of which is the
    // perplexity proxy), then each language's docs split head/middle/
    // tail by ntile(3) on (mean_nll, doc_id). Scores quantize per
    // BUCKET (1024 points) so the DuckDB ln() replay is exact; at scale
    // the terciles come from the bounded integer score census, not a
    // per-language sort (scaladoc).
    Q("t13_perplexity_buckets",
      (s, dir) => {
        import s.implicits._
        import graft.text.{Dsir, Perplexity}
        val docs = t(s, dir, "documents")
        val lm = Dsir.bucketCounts(
          docs.filter($"lang" === "en" && $"doc_id" % 3 === 0), "text", 2, 1024)
        val scored = Perplexity.nll(docs, "doc_id", "text", lm, n = 2,
          numBuckets = 1024, quantDigits = 6)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"mean_nll", $"doc_id")
        docs.select($"doc_id", $"lang").join(scored, Seq("doc_id"))
          .withColumn("tercile", ntile(3).over(w))
          .groupBy($"lang", $"tercile")
          .agg(count(lit(1)).as("n"), sum($"mean_nll").as("sum_mean"))
          .orderBy($"lang", $"tercile")
      },
      Some("""WITH tk AS (SELECT doc_id, lang, string_split(text,' ') AS s
             |           FROM documents),
             |g AS (SELECT doc_id, lang,
             |        unnest(list_transform(range(len(s)-1),
             |          i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]),1,15))::BIGINT % 1024)) AS b
             |      FROM tk WHERE len(s) >= 2),
             |lm AS (SELECT b, count(*) AS c FROM g
             |       WHERE lang = 'en' AND doc_id % 3 = 0 GROUP BY b),
             |lt AS (SELECT count(*) AS t FROM g
             |       WHERE lang = 'en' AND doc_id % 3 = 0),
             |q AS (SELECT g.doc_id,
             |        CAST(floor(-ln(((coalesce(lm.c, 0) + 1)::DOUBLE)
             |                       / ((lt.t + 1024)::DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS d
             |      FROM g LEFT JOIN lm ON g.b = lm.b, lt),
             |sc AS (SELECT doc_id, sum(d) AS nll, count(*) AS n FROM q GROUP BY doc_id),
             |m AS (SELECT d.doc_id, d.lang,
             |        CASE WHEN coalesce(sc.n, 0) > 0
             |             THEN coalesce(sc.nll, 0) // sc.n ELSE 0 END AS mean_nll
             |      FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
             |tr AS (SELECT lang, mean_nll,
             |         ntile(3) OVER (PARTITION BY lang ORDER BY mean_nll, doc_id) AS tercile
             |       FROM m)
             |SELECT lang, tercile, count(*) AS n,
             |  CAST(sum(mean_nll) AS BIGINT) AS sum_mean
             |FROM tr GROUP BY lang, tercile ORDER BY lang, tercile""".stripMargin)),

    // ----- X19: UniMax language-balanced sampling (Sample.unimaxBudgets
    // + unimaxSelect — Chung et al. 2023): water-fill a 12k-token budget
    // across languages with a 1-epoch cap, then take each language's
    // hash-ordered document prefix within its budget. The allocation is
    // closed-form integer water-filling over the k-row language census
    // (SQL replays it with window cumsums); selection reuses the x2
    // hash-prefix discipline.
    Q("x19_unimax_sample",
      (s, dir) => {
        import s.implicits._
        import graft.ops.Sample
        val tok = t(s, dir, "documents")
          .select($"doc_id", $"lang", size(split($"text", " ")).cast("long").as("tk"))
        val census = tok.groupBy($"lang").agg(sum($"tk").as("tokens"))
        val budgets = Sample.unimaxBudgets(census, "lang", "tokens",
          totalBudget = 12000L, maxEpochs = 1)
        val sel = Sample.unimaxSelect(tok, "lang", $"doc_id", "tk", budgets)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_sel"), sum($"tk").as("tok_sel"))
        budgets.join(sel, Seq("lang"), "left")
          .select($"lang", $"tokens", $"cap", $"budget",
            coalesce($"n_sel", lit(0L)).as("n_sel"),
            coalesce($"tok_sel", lit(0L)).as("tok_sel"))
          .orderBy($"lang")
      },
      Some("""WITH tok AS (SELECT doc_id, lang,
             |    CAST(len(string_split(text,' ')) AS BIGINT) AS tk FROM documents),
             |c AS (SELECT lang, CAST(sum(tk) AS BIGINT) AS tokens FROM tok GROUP BY lang),
             |r AS (SELECT lang, tokens, tokens * 1 AS cap,
             |        row_number() OVER (ORDER BY tokens * 1, lang) AS i,
             |        count(*) OVER () AS k,
             |        sum(tokens * 1) OVER (ORDER BY tokens * 1, lang
             |          ROWS UNBOUNDED PRECEDING) AS prefix
             |      FROM c),
             |tt AS (SELECT *, (12000 - (prefix - cap)) // (k - i + 1) AS tcand,
             |        ((12000 - (prefix - cap)) // (k - i + 1)) <= cap AS hit FROM r),
             |st AS (SELECT *, min(CASE WHEN hit THEN i END) OVER () AS istar FROM tt),
             |s2 AS (SELECT *, max(CASE WHEN i = istar THEN tcand END) OVER () AS tstar FROM st),
             |b AS (SELECT lang, tokens, cap,
             |        CASE WHEN istar IS NULL OR i < istar THEN cap
             |             ELSE greatest(tstar, 0) END AS budget FROM s2),
             |h AS (SELECT doc_id, lang, tk,
             |        ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT AS hv FROM tok),
             |cum AS (SELECT lang, doc_id, tk,
             |          sum(tk) OVER (PARTITION BY lang ORDER BY hv, doc_id
             |            ROWS UNBOUNDED PRECEDING) AS cm FROM h),
             |sel AS (SELECT cum.lang, count(*) AS n_sel,
             |          CAST(sum(tk) AS BIGINT) AS tok_sel
             |        FROM cum JOIN b USING (lang) WHERE cm <= b.budget
             |        GROUP BY cum.lang)
             |SELECT b.lang, b.tokens, CAST(b.cap AS BIGINT) AS cap,
             |  CAST(b.budget AS BIGINT) AS budget,
             |  CAST(coalesce(sel.n_sel, 0) AS BIGINT) AS n_sel,
             |  CAST(coalesce(sel.tok_sel, 0) AS BIGINT) AS tok_sel
             |FROM b LEFT JOIN sel ON b.lang = sel.lang
             |ORDER BY b.lang""".stripMargin)),

    // ----- D10: SemDeDup with the m^2 bomb defused (design in
    // Ann.semDedupCapped): members rank within their cluster by
    // (centroid distance DESC, id) — the paper's keep-farthest order —
    // and each compares against only its 8 rank-predecessors, so
    // candidate volume is linear in cluster size. The oracle replays the
    // same v6 k-means chain, then the EXACT windowed rule: integer d2
    // ranks, the 8-offset predecessor join, quantized cosine at 0.40.
    Q("d10_semdedup_capped",
      (s, dir) => {
        import s.implicits._
        val prepared = graft.ann.Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        graft.ann.Ann.semDedupCapped(prepared, k = 8, iters = 2, tau = 0.40, w = 8)
          .groupBy($"cid".cast("int").as("cid"))
          .agg(count(lit(1)).as("n"),
               sum(when($"drop", 1L).otherwise(0L)).as("n_drop"),
               sum(when(!$"drop", $"id").otherwise(0L)).as("sum_kept"))
          .orderBy($"cid")
      },
      Some("""WITH q AS (SELECT vec_id AS id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, qv AS cv
             |       FROM q ORDER BY id LIMIT 8),
             |dim AS (SELECT CAST(i AS INT) AS d FROM range(0,64) t(i)),
             |e1 AS (SELECT q.id, c0.cid,
             |         sum((q.qv[d+1]-c0.cv[d+1])*(q.qv[d+1]-c0.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c0 CROSS JOIN dim GROUP BY q.id, c0.cid),
             |a1 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e1)
             |       WHERE rn = 1),
             |u1 AS (SELECT a1.cid, d,
             |         CAST(floor(CAST(sum(q.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM a1 JOIN q USING (id) CROSS JOIN dim GROUP BY a1.cid, d),
             |c1 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u1 GROUP BY cid
             |       UNION ALL
             |       SELECT c0.cid, c0.cv FROM c0 WHERE c0.cid NOT IN (SELECT cid FROM u1)),
             |e2 AS (SELECT q.id, c1.cid,
             |         sum((q.qv[d+1]-c1.cv[d+1])*(q.qv[d+1]-c1.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c1 CROSS JOIN dim GROUP BY q.id, c1.cid),
             |a2 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e2)
             |       WHERE rn = 1),
             |u2 AS (SELECT a2.cid, d,
             |         CAST(floor(CAST(sum(q.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM a2 JOIN q USING (id) CROSS JOIN dim GROUP BY a2.cid, d),
             |c2 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u2 GROUP BY cid
             |       UNION ALL
             |       SELECT c1.cid, c1.cv FROM c1 WHERE c1.cid NOT IN (SELECT cid FROM u2)),
             |e3 AS (SELECT q.id, c2.cid,
             |         sum((q.qv[d+1]-c2.cv[d+1])*(q.qv[d+1]-c2.cv[d+1])) AS d2
             |       FROM q CROSS JOIN c2 CROSS JOIN dim GROUP BY q.id, c2.cid),
             |a3 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e3)
             |       WHERE rn = 1),
             |rkk AS (SELECT e3.id, e3.cid, e3.d2,
             |          row_number() OVER (PARTITION BY e3.cid ORDER BY e3.d2 DESC, e3.id) AS rnk
             |        FROM e3 JOIN a3 ON e3.id = a3.id AND e3.cid = a3.cid),
             |n AS (SELECT id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM q),
             |pr AS (SELECT b.id AS id_b, a.id AS id_a
             |       FROM rkk b CROSS JOIN range(1, 9) t(k)
             |       JOIN rkk a ON a.cid = b.cid AND a.rnk = b.rnk - k),
             |drp AS (SELECT DISTINCT id_b AS id FROM pr
             |        JOIN n na ON pr.id_a = na.id JOIN n nb ON pr.id_b = nb.id
             |        WHERE round(list_sum(list_transform(list_zip(na.qv,nb.qv), s -> s[1]*s[2]))::DOUBLE
             |              / (sqrt(na.nq::DOUBLE)*sqrt(nb.nq::DOUBLE)), 6) >= 0.40)
             |SELECT CAST(rkk.cid AS INT) AS cid, count(*) AS n,
             |  CAST(count(drp.id) AS BIGINT) AS n_drop,
             |  CAST(sum(CASE WHEN drp.id IS NULL THEN rkk.id ELSE 0 END) AS BIGINT) AS sum_kept
             |FROM rkk LEFT JOIN drp ON rkk.id = drp.id
             |GROUP BY rkk.cid ORDER BY rkk.cid""".stripMargin))
  )

  private val roundFive: Seq[Q] = Seq(
    // ----- T14: C4 page cleaning (Raffel et al. 2020 §2.2 — text.C4).
    // The synthetic corpus is one unpunctuated line per doc, so the query
    // first MANUFACTURES a structured page deterministically (pure
    // modular arithmetic, replayed identically in SQL): 5-word lines,
    // terminal '.' on lines where (doc_id+i)%3≠0 (so ~1/3 of lines fail
    // the terminal rule and ragged last lines fail the 3-word rule), plus
    // three poison lines — "enable javascript now." on doc_id%11=0 (line
    // rule: removed, page survives), "lorem ipsum." on %17=0 and
    // "schema {" on %23=0 (page rules: whole doc dropped). The bad-word
    // list is Seq("dup") — a real corpus token, so that gate's census is
    // data-driven, word-level (split on [^a-z]+), not substring. Output:
    // per-doc verdict + kept-line census + 60-bit md5 of the cleaned
    // page, so the oracle pins the REWRITE, not just the counts. One
    // codegen projection end-to-end: no shuffle at any scale.
    Q("t14_c4_filters",
      (s, dir) => {
        import s.implicits._
        import graft.text.C4
        val pages = t(s, dir, "documents")
          .select($"doc_id", $"text")
          .withColumn("tk", split($"text", " "))
          .withColumn("nl", expr("(size(tk) + 4) div 5").cast("int"))
          .withColumn("base", expr(
            """transform(sequence(0, nl - 1), i ->
                 concat(array_join(slice(tk, i*5 + 1, 5), ' '),
                        if((doc_id + i) % 3 != 0, '.', '')))"""))
          .withColumn("withjs", expr(
            "if(doc_id % 11 = 0, concat(base, array('enable javascript now.')), base)"))
          .withColumn("withlorem", expr(
            "if(doc_id % 17 = 0, concat(withjs, array('lorem ipsum.')), withjs)"))
          .withColumn("withbrace", expr(
            "if(doc_id % 23 = 0, concat(withlorem, array('schema {')), withlorem)"))
          .withColumn("page", array_join($"withbrace", "\n"))
        C4.clean(pages, "page", C4.Rules(badWords = Seq("dup")))
          .select($"doc_id", $"reason", $"n_lines_in", $"n_lines_kept",
            $"n_sentences",
            conv(substring(md5($"kept_text"), 1, 15), 16, 10).cast("long").as("h"))
          .orderBy($"doc_id")
      },
      Some("""WITH s AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
             |lb AS (SELECT doc_id, tk, unnest(range((len(tk)+4)//5)) AS i FROM s),
             |l1 AS (SELECT doc_id, i,
             |         array_to_string(tk[i*5+1:i*5+5],' ')
             |           || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END AS line
             |       FROM lb),
             |ex AS (SELECT doc_id, 999999 AS i, 'enable javascript now.' AS line
             |         FROM s WHERE doc_id % 11 = 0
             |       UNION ALL SELECT doc_id, 1000000, 'lorem ipsum.' FROM s WHERE doc_id % 17 = 0
             |       UNION ALL SELECT doc_id, 1000001, 'schema {' FROM s WHERE doc_id % 23 = 0),
             |al AS (SELECT * FROM l1 UNION ALL SELECT * FROM ex),
             |pg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS page,
             |              count(*) AS n_lines_in
             |       FROM al GROUP BY doc_id),
             |kl AS (SELECT doc_id, i, line FROM al
             |       WHERE regexp_matches(line, '[.!?"]$')
             |         AND len(list_filter(string_split_regex(line,'\s+'),
             |                             t -> len(t) > 0)) >= 3
             |         AND NOT contains(lower(line), 'javascript')),
             |ck AS (SELECT pg.doc_id,
             |         coalesce(string_agg(kl.line, chr(10) ORDER BY kl.i), '') AS kept_text,
             |         count(kl.i) AS n_lines_kept
             |       FROM pg LEFT JOIN kl ON pg.doc_id = kl.doc_id GROUP BY pg.doc_id),
             |v AS (SELECT pg.doc_id, pg.n_lines_in, ck.n_lines_kept, ck.kept_text,
             |        length(regexp_replace(ck.kept_text, '[^.!?]', '', 'g')) AS n_sent,
             |        contains(lower(pg.page), 'lorem ipsum') AS lorem,
             |        contains(pg.page, '{') AS brace,
             |        len(list_intersect(string_split_regex(lower(pg.page), '[^a-z]+'),
             |            ['dup'])) > 0 AS badw
             |      FROM pg JOIN ck ON pg.doc_id = ck.doc_id)
             |SELECT doc_id,
             |  CASE WHEN lorem THEN 'lorem' WHEN brace THEN 'brace'
             |       WHEN badw THEN 'badword' WHEN n_sent < 5 THEN 'fewsent'
             |       ELSE 'kept' END AS reason,
             |  CAST(n_lines_in AS BIGINT) AS n_lines_in,
             |  CAST(n_lines_kept AS BIGINT) AS n_lines_kept,
             |  CAST(n_sent AS BIGINT) AS n_sentences,
             |  ('0x'||substr(md5(kept_text),1,15))::BIGINT AS h
             |FROM v ORDER BY doc_id""".stripMargin)),

    // ----- X20: frequent-line boilerplate removal (CCNet §3.1 paragraph
    // dedup / RefinedWeb line-level corrections — Dedup.removeFrequent
    // Lines). Manufactured pages inject three banner classes at known
    // doc frequencies over the 500-doc corpus: "all rights reserved"
    // PREPENDED on doc_id%3=0 (df≈167, tests order preservation),
    // "Subscribe to our newsletter" appended on %2=0 with a case variant
    // on %4=0 (df≈250 under lowercase normalization — the variant MUST
    // collapse into the same census key), "click here to continue" on
    // %5=0 (df≈100). Threshold 120 ⇒ the first two vanish from every
    // doc, the third survives. Oracle replays census, normalized hash,
    // anti-join, and the order-preserving reassembly; output pins the
    // rewritten page by 60-bit md5. Plan: posexplode → bounded census →
    // BROADCAST anti-join (frequent table ≤ totalLines/120 rows) —
    // no shuffle ever meets the skewed banner key.
    Q("x20_line_dedup",
      (s, dir) => {
        import s.implicits._
        val pages = t(s, dir, "documents")
          .select($"doc_id", $"text")
          .withColumn("tk", split($"text", " "))
          .withColumn("base", expr(
            """transform(sequence(0, (size(tk)+4) div 5 - 1),
                 i -> array_join(slice(tk, i*5 + 1, 5), ' '))"""))
          .withColumn("l1", expr(
            "if(doc_id % 3 = 0, concat(array('all rights reserved'), base), base)"))
          .withColumn("l2", expr(
            """if(doc_id % 2 = 0, concat(l1, array(
                 if(doc_id % 4 = 0, 'subscribe TO our newsletter',
                    'Subscribe to our newsletter'))), l1)"""))
          .withColumn("l3", expr(
            "if(doc_id % 5 = 0, concat(l2, array('click here to continue')), l2)"))
          .withColumn("page", array_join($"l3", "\n"))
        graft.dedup.Dedup.removeFrequentLines(pages, "doc_id", "page",
            maxDocFreq = 120L)
          .select($"id".as("doc_id"), $"n_lines_in", $"n_lines_kept",
            conv(substring(md5($"kept_text"), 1, 15), 16, 10).cast("long").as("h"))
          .orderBy($"doc_id")
      },
      Some("""WITH s AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
             |c AS (SELECT doc_id, list_transform(range((len(tk)+4)//5),
             |        i -> array_to_string(tk[i*5+1:i*5+5],' ')) AS base FROM s),
             |p1 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
             |         THEN ['all rights reserved'] || base ELSE base END AS l FROM c),
             |p2 AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
             |         THEN l || [CASE WHEN doc_id % 4 = 0
             |           THEN 'subscribe TO our newsletter'
             |           ELSE 'Subscribe to our newsletter' END]
             |         ELSE l END AS l FROM p1),
             |p3 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
             |         THEN l || ['click here to continue'] ELSE l END AS l FROM p2),
             |ln AS (SELECT doc_id, unnest(range(len(l))) AS pos, l FROM p3),
             |lx AS (SELECT doc_id, pos, l[pos+1] AS line,
             |         ('0x'||substr(md5(lower(trim(l[pos+1]))),1,15))::BIGINT AS lh
             |       FROM ln),
             |fr AS (SELECT lh FROM (SELECT DISTINCT doc_id, lh FROM lx)
             |       GROUP BY lh HAVING count(*) > 120),
             |kp AS (SELECT lx.doc_id, lx.pos, lx.line FROM lx
             |       LEFT JOIN fr ON lx.lh = fr.lh WHERE fr.lh IS NULL),
             |agg AS (SELECT doc_id, count(*) AS n_lines_kept,
             |          string_agg(line, chr(10) ORDER BY pos) AS kept_text
             |        FROM kp GROUP BY doc_id)
             |SELECT p3.doc_id, CAST(len(p3.l) AS BIGINT) AS n_lines_in,
             |  CAST(coalesce(agg.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
             |  ('0x'||substr(md5(coalesce(agg.kept_text,'')),1,15))::BIGINT AS h
             |FROM p3 LEFT JOIN agg ON p3.doc_id = agg.doc_id
             |ORDER BY p3.doc_id""".stripMargin)),

    // ----- K2: HyperLogLog distinct sketch vs exact (sketch.Hll) — the
    // deterministic-hash construction makes HLL oracle-checkable after
    // all (k1's comment used to claim otherwise): registers from the
    // fixed 60-bit md5 hash (p=8 ⇒ 256 byte registers, top-8-bit bucket,
    // leading-zero rank of the 52-bit suffix), the sketch surfaced as
    // the EXACT integers s = Σ 2^(53−M_j) and the empty-register count,
    // and the bias-corrected estimate (alpha_m·m²·2^53/s, linear
    // counting below 2.5m) an identical fixed-shape double expression
    // both sides, milli-quantized. The shuffle carries 256 bytes per
    // (group, task) — map-side combined, the 100 TB census shape.
    Q("k2_hll_sketch",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.{Hll, Kmv}
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(countDistinct($"l_orderkey").as("n_exact"),
               Hll.sketch(Kmv.hash60($"l_orderkey"), p = 8).as("hll"))
          .select($"l_returnflag", $"n_exact",
            $"hll._1".as("s"), $"hll._2".as("zeros"),
            floor(Hll.estimate($"hll", p = 8) * lit(1000.0) + lit(0.5))
              .cast("long").as("est_milli"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH h AS (SELECT DISTINCT l_returnflag AS g,
             |    ('0x'||substr(md5(CAST(l_orderkey AS VARCHAR)),1,15))::BIGINT AS hv
             |  FROM lineitem),
             |b AS (SELECT g, hv // 4503599627370496 AS bucket,
             |        hv % 4503599627370496 AS rest FROM h),
             |r AS (SELECT g, bucket,
             |        max(CASE WHEN rest = 0 THEN 53
             |            ELSE 53 - length(bin(rest)) END) AS mj
             |      FROM b GROUP BY g, bucket),
             |agg AS (SELECT g,
             |    CAST(sum(1::BIGINT << (53 - mj))
             |      + (256 - count(*)) * (1::BIGINT << 53) AS BIGINT) AS s,
             |    CAST(256 - count(*) AS BIGINT) AS zeros
             |  FROM r GROUP BY g),
             |x AS (SELECT l_returnflag AS g, count(DISTINCT l_orderkey) AS n_exact
             |      FROM lineitem GROUP BY 1),
             |e AS (SELECT g, s, zeros,
             |    (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE))
             |      * 256.0::DOUBLE * 256.0::DOUBLE * 9007199254740992.0::DOUBLE
             |      / s::DOUBLE AS raw
             |  FROM agg)
             |SELECT e.g AS l_returnflag, CAST(x.n_exact AS BIGINT) AS n_exact,
             |  e.s AS s, e.zeros AS zeros,
             |  CAST(floor((CASE WHEN e.raw < 2.5::DOUBLE * 256.0::DOUBLE AND e.zeros > 0
             |        THEN 256.0::DOUBLE * ln(256.0::DOUBLE / e.zeros::DOUBLE)
             |        ELSE e.raw END) * 1000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS est_milli
             |FROM e JOIN x ON e.g = x.g ORDER BY 1""".stripMargin)),

    // ----- V9: product-quantization training + encoding (Jégou et al.
    // 2011 — Ann.pqCodebook/pqEncode). 64-dim vectors → 4 subspaces of
    // 16 dims, ks=4 codes each, 1 Lloyd round: the corpus compresses to
    // 4 2-bit codes (1 byte) per vector. All 4 subspace k-means train in
    // the SAME jobs (sp rides as a key), v6's determinism discipline
    // throughout. The oracle replays init→assign→update→encode for all
    // subspaces at once and pins the per-(sp,code) member census plus a
    // dim-weighted codebook checksum.
    Q("v9_pq_encode",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val cb = Ann.pqCodebook(prepared, numSub = 4, subDim = 16, ks = 4, iters = 1)
        val enc = Ann.pqEncode(prepared, cb, numSub = 4, subDim = 16)
          .select($"id", posexplode($"codes").as(Seq("sp", "code")))
        val chk = cb.select($"sp", $"code",
          aggregate(zip_with($"cv", sequence(lit(1L), lit(16L)), (c, d) => c * d),
            lit(0L), (acc, x) => acc + x).as("cb_chk"))
        enc.join(chk, Seq("sp", "code"))
          .groupBy($"sp".cast("int").as("sp"), $"code".cast("int").as("code"))
          .agg(count(lit(1)).as("n"), sum($"id").as("sum_vid"),
               max($"cb_chk").as("cb_chk"))
          .orderBy($"sp", $"code")
      },
      Some(pqReplayPrefix +
        """chk AS (SELECT sp, code, CAST(sum(cv[d+1]*(d+1)) AS BIGINT) AS cb_chk
          |        FROM c1 CROSS JOIN sdt GROUP BY sp, code)
          |SELECT CAST(a2.sp AS INT) AS sp, CAST(a2.code AS INT) AS code,
          |  count(*) AS n, CAST(sum(a2.id) AS BIGINT) AS sum_vid, chk.cb_chk
          |FROM a2 JOIN chk ON a2.sp = chk.sp AND a2.code = chk.code
          |GROUP BY a2.sp, a2.code, chk.cb_chk ORDER BY 1, 2""".stripMargin)),

    // ----- V10: ADC top-k over the PQ codes (the reason PQ exists) —
    // per query, distance to every encoded vector is 4 lookup-table
    // adds; the 10¹¹-vector scan never touches a float vector. LUT and
    // query set broadcast, scan map-side, the per-query top-5 window is
    // the only shuffle. Oracle replays training, encoding, LUT, the
    // full ADC scan, and the (adist, nid) tiebroken ranking.
    Q("v10_pq_adc",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val cb = Ann.pqCodebook(prepared, numSub = 4, subDim = 16, ks = 4, iters = 1)
        val codes = Ann.pqEncode(prepared, cb, numSub = 4, subDim = 16)
        Ann.pqAdcTopK(codes, cb, prepared.filter($"id" % 50 === 0),
            numSub = 4, subDim = 16, ks = 4, k = 5)
          .orderBy($"qid", $"rk")
      },
      Some(pqReplayPrefix +
        """qq AS (SELECT * FROM sv WHERE id % 50 = 0),
          |lut AS (SELECT qq.id AS qid, c1.sp, c1.code,
          |          sum((qq.sv[d+1]-c1.cv[d+1])*(qq.sv[d+1]-c1.cv[d+1])) AS pd
          |        FROM qq JOIN c1 ON qq.sp = c1.sp CROSS JOIN sdt
          |        GROUP BY qq.id, c1.sp, c1.code),
          |ad AS (SELECT lut.qid, a2.id AS nid, sum(lut.pd) AS adist
          |       FROM a2 JOIN lut ON a2.sp = lut.sp AND a2.code = lut.code
          |       WHERE a2.id <> lut.qid GROUP BY lut.qid, a2.id),
          |rk AS (SELECT qid, nid, adist,
          |         row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rk
          |       FROM ad)
          |SELECT qid, CAST(rk AS INT) AS rk, nid, CAST(adist AS BIGINT) AS adist
          |FROM rk WHERE rk <= 5 ORDER BY qid, rk""".stripMargin))
  )

  private val roundSix: Seq[Q] = Seq(
    // ----- V11: IVF-ADC — the COMPOSED coarse-quantizer + residual-PQ
    // index (Jégou et al. 2011 §IV; FAISS IVFPQ — Ann.ivfPq), the true
    // 10¹¹-vector architecture that v4-v8 (IVF) and v9/v10 (PQ) built
    // toward: coarse k-means routes points to cells, PQ encodes the
    // RESIDUAL against the cell centroid, a query probes its 2 nearest
    // cells and ADC-scans ONLY those postings — replacing v10's
    // full-corpus scan with a posting-bounded one. The oracle replays
    // the whole chain: 1-round coarse k-means → final assignment →
    // residuals → 1-round 4×4 residual codebook → encoding → probe
    // ranking → per-(query, cell) LUT → ADC sum → (adist, nid) top-5.
    Q("v11_ivfpq",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        Ann.ivfPq(prepared, kCells = 4, coarseIters = 1,
            numSub = 4, subDim = 16, ks = 4, pqIters = 1,
            nProbes = 2, k = 5, queryFilter = $"id" % 50 === 0)
          .orderBy($"qid", $"rk")
      },
      Some(ivfpqReplayChain + """
             |SELECT qid, CAST(rk AS INT) AS rk, nid, CAST(adist AS BIGINT) AS adist
             |FROM rk WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),

    // ----- K3: grouped HLL census — the shape the sketch EXISTS for at
    // 100 TB: distinct BIGRAM vocabulary per language over the exploded
    // token stream (k2 sketched one column globally; bigrams make the
    // per-group sets genuinely different — ~890-907 distinct over a
    // 3.3x-skewed stream, en carries 11.5k of 26.7k pairs at sf0.01).
    // The sketch makes the shuffle immune to that skew: map-side partial
    // aggregation (plan-asserted in PlanAuditSpec) collapses every
    // partition's bigrams into one 256-byte register set per (language,
    // task), so the exchange carries groups x 256 bytes however many
    // billions of tokens feed it, and the hot language never funnels its
    // raw pairs through one reducer. Same exact-integer surfacing as k2
    // (s, zeros, milli-quantized estimate) so DuckDB replays registers
    // bit-for-bit.
    Q("k3_hll_grouped",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.{Hll, Kmv}
        t(s, dir, "documents")
          .withColumn("tk", split($"text", " "))
          .filter(size($"tk") >= 2)
          .select($"lang", explode(expr(
            """transform(sequence(0, size(tk) - 2),
                 i -> concat(tk[i], ' ', tk[i+1]))""")).as("w"))
          .groupBy($"lang")
          .agg(countDistinct($"w").as("n_exact"),
               Hll.sketch(Kmv.hash60($"w"), p = 8).as("hll"))
          .select($"lang", $"n_exact",
            $"hll._1".as("s"), $"hll._2".as("zeros"),
            floor(Hll.estimate($"hll", p = 8) * lit(1000.0) + lit(0.5))
              .cast("long").as("est_milli"))
          .orderBy($"lang")
      },
      Some("""WITH tks AS (SELECT lang, string_split(text, ' ') AS tk
             |        FROM documents WHERE len(string_split(text, ' ')) >= 2),
             |wt AS (SELECT lang, unnest(list_transform(range(len(tk) - 1),
             |          i -> tk[i+1] || ' ' || tk[i+2])) AS w
             |        FROM tks),
             |h AS (SELECT DISTINCT lang AS g,
             |        ('0x'||substr(md5(w),1,15))::BIGINT AS hv FROM wt),
             |b AS (SELECT g, hv // 4503599627370496 AS bucket,
             |        hv % 4503599627370496 AS rest FROM h),
             |r AS (SELECT g, bucket,
             |        max(CASE WHEN rest = 0 THEN 53
             |            ELSE 53 - length(bin(rest)) END) AS mj
             |      FROM b GROUP BY g, bucket),
             |agg AS (SELECT g,
             |    CAST(sum(1::BIGINT << (53 - mj))
             |      + (256 - count(*)) * (1::BIGINT << 53) AS BIGINT) AS s,
             |    CAST(256 - count(*) AS BIGINT) AS zeros
             |  FROM r GROUP BY g),
             |x AS (SELECT lang AS g, count(DISTINCT w) AS n_exact
             |      FROM wt GROUP BY 1),
             |e AS (SELECT g, s, zeros,
             |    (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE))
             |      * 256.0::DOUBLE * 256.0::DOUBLE * 9007199254740992.0::DOUBLE
             |      / s::DOUBLE AS raw
             |  FROM agg)
             |SELECT e.g AS lang, CAST(x.n_exact AS BIGINT) AS n_exact,
             |  e.s AS s, e.zeros AS zeros,
             |  CAST(floor((CASE WHEN e.raw < 2.5::DOUBLE * 256.0::DOUBLE AND e.zeros > 0
             |        THEN 256.0::DOUBLE * ln(256.0::DOUBLE / e.zeros::DOUBLE)
             |        ELSE e.raw END) * 1000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS est_milli
             |FROM e JOIN x ON e.g = x.g ORDER BY 1""".stripMargin)),

    // ----- X21: the END-TO-END modern pretraining recipe as ONE lazy
    // plan — every stage is an operator already oracle-gated on its own;
    // this gates the full COMPOSITION, replayed in one SQL chain:
    //   manufacture pages (t14 prelude + a C4-surviving banner on
    //   doc_id%2=0) → C4 line+page rules (t14) → Gopher hard gates (t10,
    //   corpus function words standing in for English stopwords) →
    //   frequent-line boilerplate removal at docfreq>120 (x20: the
    //   banner vanishes, content lines survive) → CCNet perplexity
    //   tercile gate keeping head+middle per language (t13's LM: raw en
    //   doc_id%3=0 bigrams) → exact dedup keep-min (d1) → minhash+CC
    //   near-dup removal at 0.8 (x5/x11) → eval-slice decontamination
    //   with >50%-contaminated train drop (x6/x11) → UniMax water-fill
    //   of a 6000-token budget (x19 — binding: selection lands ~5996) →
    //   256-token packing over 4 shards + export stats (x8/x7).
    // Funnel at sf0.01: 500 → 350 → 319 → 319 rewritten → 215 → 214 →
    // near-dup & decon → 167 selected docs. The oracle MATERIALIZEs the
    // multiply-referenced CTEs — the inlined form re-evaluates the whole
    // prefix per reference and never finishes.
    //
    // Stage barriers are eager localCheckpoint(true), NOT persist(): a
    // nine-stage chain of cached multi-consumer frames nests every
    // upstream InMemoryRelation inside every downstream analyzed plan
    // across join branches (measured: 2659 IMR nodes in the final
    // stage's plan), and each action then pays seconds of DRIVER-side
    // analysis/canonicalization on that combinatorial tree — the classic
    // iterative-pipeline lineage explosion, same reason
    // Dedup.connectedComponents truncates per round. localCheckpoint
    // collapses each stage to a LogicalRDD leaf, so downstream plans
    // stay O(stage) instead of O(product of branches); measured 34 s →
    // ~12 s at sf0.1. On a fault-tolerant cluster, swap in
    // .checkpoint() (reliable storage) — localCheckpoint blocks die
    // with an executor.
    Q("x21_pretrain_recipe",
      (s, dir) => {
        val (_, ppl) = recipeToPpl(s, dir)
        recipeTail(s, ppl)
      },
      Some(recipeSqlToPpl + recipeSqlTail("ppl")))
  )

  /** The t15/s8 teacher corpus: plant 2 tokens from the doc's class
    * topical vocabulary (class = doc_id % 3; token choice by doc_id
    * arithmetic — SQL-replayable). Works on batch AND streaming frames
    * (pure projection). */
  private def plantTopics(df: DataFrame): DataFrame = {
    val V = "array(array('win','free','prize'), array('today','report','city'), array('func','var','loop'))"
    def planted(div: Int) =
      expr(s"element_at(element_at($V, cast(doc_id % 3 + 1 as int)), cast((doc_id div $div) % 3 + 1 as int))")
    df.select(col("doc_id"),
      element_at(array(lit("ads"), lit("news"), lit("code")),
        (col("doc_id") % 3 + 1).cast("int")).as("truth"),
      concat(col("text"), lit(" "), planted(3), lit(" "), planted(9)).as("text2"))
  }

  private lazy val roundSeven: Seq[Q] = Seq(
    // ----- T15: trained quality/topic classifier — the DCLM/FineWeb-Edu
    // model-filter stage (train a linear bag-of-words classifier on a
    // labeled set, score the crawl). Multinomial Naive Bayes over hashed
    // bag-of-words in quantized-integer log space (closed form: a batch
    // perceptron was measured to oscillate on this shared-vocabulary
    // corpus — see Classifier.scala scaladoc). Teacher task manufactured
    // the x21/t14 way: each doc gets 2 tokens planted from its class's
    // 3-token topical vocabulary (class = doc_id % 3, token choice by
    // doc_id arithmetic — fully SQL-replayable); train on doc_id%2=0,
    // predict the held-out half. The oracle replays census -> quantized
    // ln weights + priors -> per-(doc,class) integer scores -> argmax
    // with (score DESC, label DESC) tiebreak, and the output is the
    // confusion census + integer score checksum. The planted-signal
    // accuracy is 1.0 (off-diagonal rows absent); ClassifierSpec's
    // ablation proves chance accuracy without the planted signal.
    Q("t15_quality_classifier",
      (s, dir) => {
        import s.implicits._
        val docs = plantTopics(t(s, dir, "documents"))
        val train = docs.filter($"doc_id" % 2 === 0)
        val test = docs.filter($"doc_id" % 2 =!= 0)
        val model = graft.text.Classifier.trainNaiveBayes(
          train, "truth", "text2", n = 1, numBuckets = 256, quantDigits = 6)
        graft.text.Classifier.predict(test, "doc_id", "text2", 1, 256, model)
          .join(test.select($"doc_id", $"truth"), Seq("doc_id"))
          .groupBy($"truth", $"pred")
          .agg(count(lit(1)).as("n_docs"), sum($"score").as("score_sum"))
          .orderBy($"truth", $"pred")
      },
      Some("""WITH lab AS (SELECT doc_id,
             |    (['ads','news','code'])[(doc_id % 3 + 1)::INT] AS truth,
             |    text || ' ' ||
             |    ([['win','free','prize'],['today','report','city'],['func','var','loop']])
             |      [(doc_id % 3 + 1)::INT][((doc_id // 3) % 3 + 1)::INT] || ' ' ||
             |    ([['win','free','prize'],['today','report','city'],['func','var','loop']])
             |      [(doc_id % 3 + 1)::INT][((doc_id // 9) % 3 + 1)::INT] AS text2
             |  FROM documents),
             |tr AS MATERIALIZED (SELECT * FROM lab WHERE doc_id % 2 = 0),
             |gr AS (SELECT truth, ('0x'||substr(md5(tok),1,15))::BIGINT % 256 AS bucket
             |       FROM (SELECT truth, unnest(string_split(text2,' ')) AS tok FROM tr)),
             |cc AS (SELECT truth, bucket, count(*) AS c FROM gr GROUP BY 1,2),
             |tot AS (SELECT truth, count(*) AS t FROM gr GROUP BY 1),
             |nd AS (SELECT truth, count(*) AS ndc FROM tr GROUP BY 1),
             |nn AS (SELECT count(*) AS n FROM tr),
             |grid AS (SELECT tot.truth AS label, t2.b AS bucket, tot.t FROM tot
             |         CROSS JOIN (SELECT unnest(range(256)) AS b) t2),
             |wt AS (SELECT g.label, g.bucket,
             |         CAST(floor(ln((coalesce(cc.c,0)+1)::DOUBLE / (g.t+256)::DOUBLE)*1000000 + 0.5) AS BIGINT) AS w
             |       FROM grid g LEFT JOIN cc ON cc.truth = g.label AND cc.bucket = g.bucket),
             |pri AS (SELECT nd.truth AS label, CAST(256 AS BIGINT) AS bucket,
             |          CAST(floor(ln(nd.ndc::DOUBLE / nn.n::DOUBLE)*1000000 + 0.5) AS BIGINT) AS w
             |        FROM nd, nn),
             |model AS MATERIALIZED (SELECT * FROM wt UNION ALL SELECT * FROM pri),
             |te AS MATERIALIZED (SELECT * FROM lab WHERE doc_id % 2 = 1),
             |f AS (SELECT doc_id, bucket, count(*)::BIGINT AS cnt FROM (
             |       SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT % 256 AS bucket
             |       FROM (SELECT doc_id, unnest(string_split(text2,' ')) AS tok FROM te)
             |       UNION ALL SELECT doc_id, 256 FROM te) GROUP BY 1,2),
             |sco AS (SELECT f.doc_id, m.label, sum(f.cnt*m.w) AS score
             |        FROM f JOIN model m USING (bucket) GROUP BY 1,2),
             |pr AS (SELECT doc_id, label AS pred, score,
             |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label DESC) AS rk
             |       FROM sco)
             |SELECT t.truth, p.pred, count(*) AS n_docs, CAST(sum(p.score) AS BIGINT) AS score_sum
             |FROM pr p JOIN te t USING (doc_id) WHERE p.rk = 1
             |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // ----- S8: STREAMING classifier scoring — the train-offline /
    // score-online production pattern: the NB model is trained batch-side
    // (same teacher corpus as t15) and BROADCAST into a stream-static
    // join over the live held-out stream. The only stream state is the
    // per-(doc, class) integer partial score (one aggregation — Spark
    // allows exactly one per streaming query; in an unbounded deployment
    // watermark it on arrival time); the prior add, argmax and confusion
    // census run batch-side on the sink, where the integer scores make
    // the answer exact. The streaming answer must CONVERGE to t15's
    // batch answer — the oracle is the identical census -> weights ->
    // scores -> argmax replay.
    Q("s8_stream_classify",
      (s, dir) => {
        import s.implicits._
        val schema = s.read.parquet(s"$dir/documents.parquet").schema
        val queryName = "graft_sclf_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val train = plantTopics(t(s, dir, "documents").filter($"doc_id" % 2 === 0))
        val model = graft.text.Classifier.trainNaiveBayes(
          train, "truth", "text2", n = 1, numBuckets = 256, quantDigits = 6)
        val gramW = model.filter($"bucket" < 256)
        val prior = model.filter($"bucket" === 256).select($"label", $"w".as("pw"))
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = plantTopics(
              s.readStream.schema(schema)
                .option("pathGlobFilter", "documents.parquet").parquet(dir)
                .filter($"doc_id" % 2 =!= 0))
            .select($"doc_id",
              explode(graft.functions.GraftFunctions.ngram_hashes($"text2", 1)).as("g"))
            .withColumn("bucket", pmod($"g", lit(256L)))
            .join(broadcast(gramW), Seq("bucket"))
            .groupBy($"doc_id", $"label")
            .agg(sum($"w").as("gscore"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        val truth = plantTopics(t(s, dir, "documents").filter($"doc_id" % 2 =!= 0))
          .select($"doc_id", $"truth")
        s.table(queryName)
          .join(broadcast(prior), Seq("label"))
          .select($"doc_id", $"label", ($"gscore" + $"pw").as("score"))
          .groupBy($"doc_id")
          .agg(max(struct($"score", $"label")).as("m"))
          .select($"doc_id", $"m.label".as("pred"), $"m.score".as("score"))
          .join(truth, Seq("doc_id"))
          .groupBy($"truth", $"pred")
          .agg(count(lit(1)).as("n_docs"), sum($"score").as("score_sum"))
          .orderBy($"truth", $"pred")
      },
      Some("""WITH lab AS (SELECT doc_id,
             |    (['ads','news','code'])[(doc_id % 3 + 1)::INT] AS truth,
             |    text || ' ' ||
             |    ([['win','free','prize'],['today','report','city'],['func','var','loop']])
             |      [(doc_id % 3 + 1)::INT][((doc_id // 3) % 3 + 1)::INT] || ' ' ||
             |    ([['win','free','prize'],['today','report','city'],['func','var','loop']])
             |      [(doc_id % 3 + 1)::INT][((doc_id // 9) % 3 + 1)::INT] AS text2
             |  FROM documents),
             |tr AS MATERIALIZED (SELECT * FROM lab WHERE doc_id % 2 = 0),
             |gr AS (SELECT truth, ('0x'||substr(md5(tok),1,15))::BIGINT % 256 AS bucket
             |       FROM (SELECT truth, unnest(string_split(text2,' ')) AS tok FROM tr)),
             |cc AS (SELECT truth, bucket, count(*) AS c FROM gr GROUP BY 1,2),
             |tot AS (SELECT truth, count(*) AS t FROM gr GROUP BY 1),
             |nd AS (SELECT truth, count(*) AS ndc FROM tr GROUP BY 1),
             |nn AS (SELECT count(*) AS n FROM tr),
             |grid AS (SELECT tot.truth AS label, t2.b AS bucket, tot.t FROM tot
             |         CROSS JOIN (SELECT unnest(range(256)) AS b) t2),
             |wt AS (SELECT g.label, g.bucket,
             |         CAST(floor(ln((coalesce(cc.c,0)+1)::DOUBLE / (g.t+256)::DOUBLE)*1000000 + 0.5) AS BIGINT) AS w
             |       FROM grid g LEFT JOIN cc ON cc.truth = g.label AND cc.bucket = g.bucket),
             |pri AS (SELECT nd.truth AS label, CAST(256 AS BIGINT) AS bucket,
             |          CAST(floor(ln(nd.ndc::DOUBLE / nn.n::DOUBLE)*1000000 + 0.5) AS BIGINT) AS w
             |        FROM nd, nn),
             |model AS MATERIALIZED (SELECT * FROM wt UNION ALL SELECT * FROM pri),
             |te AS MATERIALIZED (SELECT * FROM lab WHERE doc_id % 2 = 1),
             |f AS (SELECT doc_id, bucket, count(*)::BIGINT AS cnt FROM (
             |       SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT % 256 AS bucket
             |       FROM (SELECT doc_id, unnest(string_split(text2,' ')) AS tok FROM te)
             |       UNION ALL SELECT doc_id, 256 FROM te) GROUP BY 1,2),
             |sco AS (SELECT f.doc_id, m.label, sum(f.cnt*m.w) AS score
             |        FROM f JOIN model m USING (bucket) GROUP BY 1,2),
             |pr AS (SELECT doc_id, label AS pred, score,
             |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label DESC) AS rk
             |       FROM sco)
             |SELECT t.truth, p.pred, count(*) AS n_docs, CAST(sum(p.score) AS BIGINT) AS score_sum
             |FROM pr p JOIN te t USING (doc_id) WHERE p.rk = 1
             |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // ----- V12: IVF-ADC shortlist + EXACT re-rank — the complete
    // production serving path (Jégou et al. 2011 §V recall@R protocol)
    // that v11 + the PqSpec recall contract point at: ADC cannot rank
    // inside a quantization cell, so its top-k is a SHORTLIST, and the
    // second stage re-orders a kShort=20 shortlist by exact integer
    // squared L2 (Ann.rerankExact — shortlist broadcast into two corpus
    // scans; the corpus never shuffles; the per-query top-k window over
    // 20-row groups is the only exchange). The oracle replays the entire
    // v11 chain, takes the ADC top-20, and re-ranks it exactly.
    Q("v12_ivfpq_rerank",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val short = Ann.ivfPq(prepared, kCells = 4, coarseIters = 1,
          numSub = 4, subDim = 16, ks = 4, pqIters = 1,
          nProbes = 2, k = 20, queryFilter = $"id" % 50 === 0)
        Ann.rerankExact(short, prepared, k = 5).orderBy($"qid", $"rk")
      },
      Some(ivfpqReplayChain + """,
             |sl AS (SELECT qid, nid FROM rk WHERE rk <= 20),
             |ex AS (SELECT sl.qid, sl.nid,
             |         sum((a.qv[d+1]-b.qv[d+1])*(a.qv[d+1]-b.qv[d+1])) AS dist
             |       FROM sl JOIN q a ON a.id = sl.qid JOIN q b ON b.id = sl.nid
             |       CROSS JOIN dim GROUP BY sl.qid, sl.nid),
             |rr AS (SELECT qid, nid, dist,
             |         row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rk2
             |       FROM ex)
             |SELECT qid, CAST(rk2 AS INT) AS rk, nid, CAST(dist AS BIGINT) AS dist
             |FROM rr WHERE rk2 <= 5 ORDER BY qid, rk2""".stripMargin)),

    // ----- S9: STREAMING incremental near-dup admission — x10's
    // daily-ingest admission as a LIVE pipeline: new docs arrive in
    // micro-batches and foreachBatch admits each batch against the
    // stored LSH index (the single-table (id, st, band, key) form —
    // Dedup.buildAdmitIndex), then
    // APPENDS the admitted docs' index rows — the
    // Structured Streaming foreachBatch-upsert pattern (in production
    // the index tables live in storage and each micro-batch appends to
    // them; here they accumulate as lazily-persisted union leaves over
    // the one eagerly-checkpointed admitted frame per batch — append is
    // O(new), never an O(corpus) index rewrite). Unlike s6, admission
    // is ORDER-DEPENDENT — an admitted doc blocks later near-dups — so
    // batches are sequenced deterministically: the stream dir starts
    // empty and each batch's one parquet file is written and fully
    // drained before the next; batch i carries (doc_id div 5) % 4 = i.
    // The oracle unrolls the four admission rounds against the growing
    // index.
    Q("s9_stream_admit",
      (s, dir) => {
        import s.implicits._
        val D = graft.dedup.Dedup
        val docs = t(s, dir, "documents")
        val oldDf = docs.filter(pmod($"doc_id", lit(5L)) =!= 0L)
        val newDf = docs.filter(pmod($"doc_id", lit(5L)) === 0L)
          .select($"doc_id", $"text", $"n_chars").localCheckpoint(true)
        var idx = D.buildAdmitIndex(oldDf, "doc_id", "text").localCheckpoint(true)
        val admitted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        val sdir = java.nio.file.Files.createTempDirectory("graft_s9_").toFile
        sdir.deleteOnExit()
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = s.readStream.schema(newDf.schema)
            .parquet(sdir.getAbsolutePath)
            .writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              // Fused-verify admission (Dedup.admitIncrementFused):
              // collision and exact-jaccard verify are ONE join against
              // the single-table index, with two eager barriers per batch
              // (the O(new) batch index inside the call, the admitted
              // frame here). The index grows by LAZY persisted leaves
              // semi-joined from the checkpointed batch index — the old
              // index blocks are never rewritten (append is O(new), not
              // O(corpus)); a leaf materializes fused into the NEXT
              // batch's admit join rather than as its own job.
              if (batch.take(1).nonEmpty) {
                val (a, batchIdx) =
                  D.admitIncrementFused(batch, "doc_id", "text", idx)
                val adm = a.localCheckpoint(true)
                if (adm.count() > 0) {
                  val leaf = batchIdx.join(
                    broadcast(adm.select($"doc_id".as("id"))), Seq("id"), "left_semi")
                  idx = idx.unionByName(leaf.persist())
                  admitted += adm.withColumn("batch", lit(admitted.size.toLong))
                }
              }
              ()
            }
            .start()
          (0 until 4).foreach { bi =>
            newDf.filter(expr(s"(doc_id div 5) % 4 = $bi"))
              .coalesce(1).write.mode("append").parquet(sdir.getAbsolutePath)
            q.processAllAvailable()
          }
          q.stop()
        } }
        admitted.reduce(_ unionByName _)
          .groupBy($"batch")
          .agg(count(lit(1)).as("n_admitted"), sum($"doc_id").as("sum_admitted"),
               sum($"n_chars").as("chars_admitted"), min($"doc_id").as("min_admitted"))
          .orderBy($"batch")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
             |sig AS MATERIALIZED (
             |  SELECT doc_id,
             |    min(md5('0|'||tok)) AS h0, min(md5('1|'||tok)) AS h1,
             |    min(md5('2|'||tok)) AS h2, min(md5('3|'||tok)) AS h3,
             |    min(md5('4|'||tok)) AS h4, min(md5('5|'||tok)) AS h5,
             |    min(md5('6|'||tok)) AS h6, min(md5('7|'||tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS MATERIALIZED (
             |  SELECT doc_id, 0 AS band, md5(h0||h1||h2||h3) AS key FROM sig UNION ALL
             |  SELECT doc_id, 1, md5(h4||h5||h6||h7) FROM sig),
             |sets AS MATERIALIZED (
             |  SELECT doc_id, list_distinct(list_transform(string_split(text,' '),
             |    tok -> ('0x'||substr(md5(tok),1,15))::BIGINT)) AS st FROM documents),
             |b0 AS (SELECT * FROM bands WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 0),
             |b1 AS (SELECT * FROM bands WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 1),
             |b2 AS (SELECT * FROM bands WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 2),
             |b3 AS (SELECT * FROM bands WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 3),
             |i0 AS (SELECT doc_id, band, key FROM bands WHERE doc_id % 5 != 0),
             |co0 AS (SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
             |        FROM b0 n JOIN i0 o ON n.band = o.band AND n.key = o.key),
             |rt0 AS (SELECT band, key, min(doc_id) AS root FROM b0
             |        GROUP BY 1,2 HAVING count(*) > 1),
             |cn0 AS (SELECT DISTINCT r.root AS id_a, b.doc_id AS id_b
             |        FROM b0 b JOIN rt0 r ON b.band = r.band AND b.key = r.key
             |        WHERE b.doc_id != r.root),
             |rej0 AS (SELECT DISTINCT id_new FROM co0
             |           JOIN sets sa ON id_new = sa.doc_id JOIN sets sb ON id_old = sb.doc_id
             |           WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |             / (len(sa.st)+len(sb.st)-len(list_intersect(sa.st, sb.st))) >= 0.9
             |         UNION SELECT DISTINCT id_b FROM cn0
             |           JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
             |           WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |             / (len(sa.st)+len(sb.st)-len(list_intersect(sa.st, sb.st))) >= 0.9),
             |a0 AS MATERIALIZED (SELECT doc_id FROM documents
             |     WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 0
             |       AND doc_id NOT IN (SELECT id_new FROM rej0)),
             |i1 AS MATERIALIZED (SELECT * FROM i0 UNION ALL
             |     SELECT b.doc_id, b.band, b.key FROM bands b JOIN a0 USING (doc_id)),
             |co1 AS (SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
             |        FROM b1 n JOIN i1 o ON n.band = o.band AND n.key = o.key),
             |rt1 AS (SELECT band, key, min(doc_id) AS root FROM b1
             |        GROUP BY 1,2 HAVING count(*) > 1),
             |cn1 AS (SELECT DISTINCT r.root AS id_a, b.doc_id AS id_b
             |        FROM b1 b JOIN rt1 r ON b.band = r.band AND b.key = r.key
             |        WHERE b.doc_id != r.root),
             |rej1 AS (SELECT DISTINCT id_new FROM co1
             |           JOIN sets sa ON id_new = sa.doc_id JOIN sets sb ON id_old = sb.doc_id
             |           WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |             / (len(sa.st)+len(sb.st)-len(list_intersect(sa.st, sb.st))) >= 0.9
             |         UNION SELECT DISTINCT id_b FROM cn1
             |           JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
             |           WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |             / (len(sa.st)+len(sb.st)-len(list_intersect(sa.st, sb.st))) >= 0.9),
             |a1 AS MATERIALIZED (SELECT doc_id FROM documents
             |     WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 1
             |       AND doc_id NOT IN (SELECT id_new FROM rej1)),
             |i2 AS MATERIALIZED (SELECT * FROM i1 UNION ALL
             |     SELECT b.doc_id, b.band, b.key FROM bands b JOIN a1 USING (doc_id)),
             |co2 AS (SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
             |        FROM b2 n JOIN i2 o ON n.band = o.band AND n.key = o.key),
             |rt2 AS (SELECT band, key, min(doc_id) AS root FROM b2
             |        GROUP BY 1,2 HAVING count(*) > 1),
             |cn2 AS (SELECT DISTINCT r.root AS id_a, b.doc_id AS id_b
             |        FROM b2 b JOIN rt2 r ON b.band = r.band AND b.key = r.key
             |        WHERE b.doc_id != r.root),
             |rej2 AS (SELECT DISTINCT id_new FROM co2
             |           JOIN sets sa ON id_new = sa.doc_id JOIN sets sb ON id_old = sb.doc_id
             |           WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |             / (len(sa.st)+len(sb.st)-len(list_intersect(sa.st, sb.st))) >= 0.9
             |         UNION SELECT DISTINCT id_b FROM cn2
             |           JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
             |           WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |             / (len(sa.st)+len(sb.st)-len(list_intersect(sa.st, sb.st))) >= 0.9),
             |a2 AS MATERIALIZED (SELECT doc_id FROM documents
             |     WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 2
             |       AND doc_id NOT IN (SELECT id_new FROM rej2)),
             |i3 AS MATERIALIZED (SELECT * FROM i2 UNION ALL
             |     SELECT b.doc_id, b.band, b.key FROM bands b JOIN a2 USING (doc_id)),
             |co3 AS (SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
             |        FROM b3 n JOIN i3 o ON n.band = o.band AND n.key = o.key),
             |rt3 AS (SELECT band, key, min(doc_id) AS root FROM b3
             |        GROUP BY 1,2 HAVING count(*) > 1),
             |cn3 AS (SELECT DISTINCT r.root AS id_a, b.doc_id AS id_b
             |        FROM b3 b JOIN rt3 r ON b.band = r.band AND b.key = r.key
             |        WHERE b.doc_id != r.root),
             |rej3 AS (SELECT DISTINCT id_new FROM co3
             |           JOIN sets sa ON id_new = sa.doc_id JOIN sets sb ON id_old = sb.doc_id
             |           WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |             / (len(sa.st)+len(sb.st)-len(list_intersect(sa.st, sb.st))) >= 0.9
             |         UNION SELECT DISTINCT id_b FROM cn3
             |           JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
             |           WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |             / (len(sa.st)+len(sb.st)-len(list_intersect(sa.st, sb.st))) >= 0.9),
             |a3 AS (SELECT doc_id FROM documents
             |     WHERE doc_id % 5 = 0 AND (doc_id // 5) % 4 = 3
             |       AND doc_id NOT IN (SELECT id_new FROM rej3)),
             |allb AS (SELECT CAST(0 AS BIGINT) AS batch, doc_id FROM a0
             |  UNION ALL SELECT CAST(1 AS BIGINT), doc_id FROM a1
             |  UNION ALL SELECT CAST(2 AS BIGINT), doc_id FROM a2
             |  UNION ALL SELECT CAST(3 AS BIGINT), doc_id FROM a3)
             |SELECT batch, count(*) AS n_admitted,
             |  CAST(sum(allb.doc_id) AS BIGINT) AS sum_admitted,
             |  CAST(sum(d.n_chars) AS BIGINT) AS chars_admitted,
             |  min(allb.doc_id) AS min_admitted
             |FROM allb JOIN documents d ON allb.doc_id = d.doc_id
             |GROUP BY batch ORDER BY batch""".stripMargin)),

    // ----- T16: BM25 ranked retrieval (Robertson & Zaragoza 2009) — the
    // retrieval-based curation primitive: score every doc against a term
    // query, keep the top-k. Query mixes the corpus's one rare term
    // ('dup', df=25/500 — high idf) with two dense ones, so the ranking
    // is idf-driven and the rare-term docs surface. Per-(doc, term)
    // contributions are quantized to integer micro-units BEFORE the
    // per-doc sum (x17/t13 discipline) — order-proof integer scores,
    // replayed bit-for-bit. Plan: token stream filtered to query terms
    // at the scan, 1-row stats broadcast, top-k is TakeOrderedAndProject
    // (asserted in Bm25Spec) — no per-vocabulary state, no global sort.
    Q("t16_bm25",
      (s, dir) => {
        import s.implicits._
        graft.text.Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
          Seq("dup", "join", "spark"), k = 10)
      },
      Some("""WITH dd AS (SELECT doc_id, string_split(text,' ') AS s FROM documents),
             |st AS (SELECT count(*) AS n_docs, sum(len(s)) AS total_len FROM dd),
             |tk AS (SELECT doc_id, len(s) AS dl, unnest(s) AS tok FROM dd),
             |tf AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl FROM tk
             |       WHERE tok IN ('dup','join','spark') GROUP BY doc_id, tok),
             |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |c AS (SELECT tf.doc_id, CAST(floor(
             |        ln((st.n_docs::DOUBLE - dfq.df::DOUBLE + 0.5)
             |             / (dfq.df::DOUBLE + 0.5) + 1.0)
             |          * tf.tf::DOUBLE * (1.2 + 1.0)
             |        / (tf.tf::DOUBLE + 1.2 * (0.25
             |             + 0.75 * tf.dl::DOUBLE
             |               / (st.total_len::DOUBLE / st.n_docs::DOUBLE)))
             |        * 1000000.0 + 0.5) AS BIGINT) AS c
             |      FROM tf JOIN dfq USING (tok) CROSS JOIN st),
             |sc AS (SELECT doc_id AS id, sum(c) AS score FROM c GROUP BY 1),
             |r AS (SELECT id, score,
             |        row_number() OVER (ORDER BY score DESC, id) AS rk FROM sc)
             |SELECT CAST(rk AS INT) AS rk, id, CAST(score AS BIGINT) AS score
             |FROM r WHERE rk <= 10 ORDER BY rk""".stripMargin)),

    // ----- X22: temperature-based language sampling — the mixture
    // BASELINE UniMax (x19) improves on: budget_l ∝ tokens_l^alpha
    // with alpha = 0.5 (T = 2), capped at the language's own supply.
    // The weight tokens^alpha is quantized to integer units BEFORE
    // normalization (the x17/t13 discipline), so Z and every budget are
    // exact integer arithmetic — order-proof and engine-replayable.
    // Selection reuses Sample.unimaxSelect (budget-driven, policy-
    // agnostic): same hash-ordered prefix, same census output shape as
    // x19 so the two policies are directly comparable row-for-row.
    Q("x22_temp_sample",
      (s, dir) => {
        import s.implicits._
        import graft.ops.Sample
        val tok = t(s, dir, "documents")
          .select($"doc_id", $"lang", size(split($"text", " ")).cast("long").as("tk"))
        val census = tok.groupBy($"lang").agg(sum($"tk").as("tokens"))
        val budgets = Sample.temperatureBudgets(census, "lang", "tokens",
          totalBudget = 12000L, alpha = 0.5)
        val sel = Sample.unimaxSelect(tok, "lang", $"doc_id", "tk", budgets)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_sel"), sum($"tk").as("tok_sel"))
        budgets.join(sel, Seq("lang"), "left")
          .select($"lang", $"tokens", $"budget",
            coalesce($"n_sel", lit(0L)).as("n_sel"),
            coalesce($"tok_sel", lit(0L)).as("tok_sel"))
          .orderBy($"lang")
      },
      Some("""WITH tok AS (SELECT doc_id, lang,
             |    CAST(len(string_split(text,' ')) AS BIGINT) AS tk FROM documents),
             |c AS (SELECT lang, CAST(sum(tk) AS BIGINT) AS tokens FROM tok GROUP BY lang),
             |w AS (SELECT lang, tokens,
             |        CAST(floor(pow(tokens::DOUBLE, 0.5) * 1000000.0 + 0.5) AS BIGINT) AS wq
             |      FROM c),
             |b AS (SELECT lang, tokens,
             |        least(tokens, (12000 * wq) // (SELECT sum(wq) FROM w)) AS budget
             |      FROM w),
             |h AS (SELECT doc_id, lang, tk,
             |        ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT AS hv FROM tok),
             |cum AS (SELECT lang, doc_id, tk,
             |          sum(tk) OVER (PARTITION BY lang ORDER BY hv, doc_id
             |            ROWS UNBOUNDED PRECEDING) AS cm FROM h),
             |sel AS (SELECT cum.lang, count(*) AS n_sel,
             |          CAST(sum(tk) AS BIGINT) AS tok_sel
             |        FROM cum JOIN b USING (lang) WHERE cm <= b.budget
             |        GROUP BY cum.lang)
             |SELECT b.lang, b.tokens, CAST(b.budget AS BIGINT) AS budget,
             |  CAST(coalesce(sel.n_sel, 0) AS BIGINT) AS n_sel,
             |  CAST(coalesce(sel.tok_sel, 0) AS BIGINT) AS tok_sel
             |FROM b LEFT JOIN sel ON b.lang = sel.lang
             |ORDER BY b.lang""".stripMargin)),

    // ----- S10: streaming cardinality via HLL state — the production
    // answer to "distinct users per window on a live stream": exact
    // distinct is UNSUPPORTED in streaming aggregation (unbounded
    // per-key state), and that is precisely what the sketch fixes — the
    // HLL register array (256 B at p=8) IS the streaming state, merged
    // duplicate-insensitively across micro-batches, so state per window
    // is constant no matter how many events arrive. The deterministic
    // register census (s, zeros) surfaces as exact integers; the exact
    // count and the estimate are attached batch-side on the sink (the
    // s8 pattern: keep the non-streamable step out of the stream). The
    // oracle replays registers, linear-counting correction, and the
    // exact count per day from the same rows.
    Q("s10_stream_hll",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.{Hll, Kmv}
        val schema = s.read.parquet(s"$dir/events.parquet").schema
        val queryName = "graft_shll_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val fixed = normTs(stream)
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = fixed
            .withWatermark("ts", "1 day")
            .groupBy(window($"ts", "1 day").as("w"))
            .agg(Hll.sketch(Kmv.hash60($"user_id"), p = 8).as("hll"))
            .select($"w.start".as("day"), $"hll._1".as("s"), $"hll._2".as("zeros"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        val exact = t(s, dir, "events")
          .groupBy(date_trunc("day", $"ts").as("day"))
          .agg(countDistinct($"user_id").as("n_exact"))
        s.table(queryName).join(exact, Seq("day"))
          .select($"day", $"n_exact", $"s", $"zeros",
            floor(Hll.estimate(struct($"s".as("_1"), $"zeros".as("_2")), p = 8)
              * lit(1000.0) + lit(0.5)).cast("long").as("est_milli"))
          .orderBy($"day")
      },
      Some("""WITH h AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS g,
             |        ('0x'||substr(md5(user_id::VARCHAR),1,15))::BIGINT AS hv FROM events),
             |b AS (SELECT g, hv // 4503599627370496 AS bucket,
             |        hv % 4503599627370496 AS rest FROM h),
             |r AS (SELECT g, bucket,
             |        max(CASE WHEN rest = 0 THEN 53
             |            ELSE 53 - length(bin(rest)) END) AS mj
             |      FROM b GROUP BY g, bucket),
             |agg AS (SELECT g,
             |    CAST(sum(1::BIGINT << (53 - mj))
             |      + (256 - count(*)) * (1::BIGINT << 53) AS BIGINT) AS s,
             |    CAST(256 - count(*) AS BIGINT) AS zeros
             |  FROM r GROUP BY g),
             |x AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS g,
             |        count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1),
             |e AS (SELECT g, s, zeros,
             |    (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE))
             |      * 256.0::DOUBLE * 256.0::DOUBLE * 9007199254740992.0::DOUBLE
             |      / s::DOUBLE AS raw
             |  FROM agg)
             |SELECT e.g AS day, CAST(x.n_exact AS BIGINT) AS n_exact,
             |  e.s AS s, e.zeros AS zeros,
             |  CAST(floor((CASE WHEN e.raw < 2.5::DOUBLE * 256.0::DOUBLE AND e.zeros > 0
             |        THEN 256.0::DOUBLE * ln(256.0::DOUBLE / e.zeros::DOUBLE)
             |        ELSE e.raw END) * 1000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS est_milli
             |FROM e JOIN x ON e.g = x.g ORDER BY 1""".stripMargin)),

    // ----- T17: Stupid Backoff LM scoring (Brants et al. 2007 §4) —
    // the distributed-first LM beside t13's raw-bigram NLL: the score
    // c(bigram)/c(prev) backs off to alpha·c(w)/N when the bigram is
    // unseen, and needs NO normalization pass (why Google ran it over
    // MapReduce counts instead of Kneser-Ney). Model = two hashed-
    // bucket censuses (<= 2·1024 rows at any corpus size) trained on
    // the t13 trusted slice; scoring is one scan with three broadcast
    // joins. Per-position micro-nat integers (order-proof sums);
    // the per-language census separately counts backoff positions
    // (all languages back off rarely here — 1024 buckets over a tiny
    // shared vocabulary collide densely, the documented hashed-LM
    // approximation; raise numBuckets to sharpen it at scale).
    Q("t17_stupid_backoff",
      (s, dir) => {
        import s.implicits._
        import graft.text.{Dsir, StupidBackoff}
        val docs = t(s, dir, "documents")
        val ref = docs.filter($"lang" === "en" && $"doc_id" % 3 === 0)
        val lmBi = Dsir.bucketCounts(ref, "text", 2, 1024)
        val lmUni = Dsir.bucketCounts(ref, "text", 1, 1024)
        val scored = StupidBackoff.score(docs, "doc_id", "text",
          lmBi, lmUni, numBuckets = 1024)
        docs.select($"doc_id", $"lang").join(scored, Seq("doc_id"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_pos").as("n_pos"),
               sum($"n_backoff").as("n_backoff"), sum($"score").as("score_sum"))
          .orderBy($"lang")
      },
      Some("""WITH tk AS (SELECT doc_id, lang, string_split(text,' ') AS s
             |           FROM documents),
             |ref AS (SELECT * FROM tk WHERE lang = 'en' AND doc_id % 3 = 0),
             |bg AS (SELECT unnest(list_transform(range(len(s)-1),
             |         i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]),1,15))::BIGINT % 1024)) AS b
             |       FROM ref WHERE len(s) >= 2),
             |ug AS (SELECT unnest(list_transform(range(len(s)),
             |         i -> ('0x'||substr(md5(s[i+1]),1,15))::BIGINT % 1024)) AS b
             |       FROM ref),
             |lmb AS MATERIALIZED (SELECT b, count(*) AS c FROM bg GROUP BY b),
             |lmu AS MATERIALIZED (SELECT b, count(*) AS c FROM ug GROUP BY b),
             |nt AS (SELECT count(*) AS t FROM ug),
             |pos AS (SELECT doc_id, lang,
             |         unnest(list_transform(range(len(s)-1), i -> struct_pack(
             |           bb := ('0x'||substr(md5(s[i+1]||' '||s[i+2]),1,15))::BIGINT % 1024,
             |           bp := ('0x'||substr(md5(s[i+1]),1,15))::BIGINT % 1024,
             |           bc := ('0x'||substr(md5(s[i+2]),1,15))::BIGINT % 1024))) AS x
             |        FROM tk WHERE len(s) >= 2),
             |d AS (SELECT doc_id, lang,
             |        CASE WHEN coalesce(lb.c, 0) > 0 AND coalesce(lp.c, 0) > 0
             |          THEN CAST(floor(-ln(lb.c::DOUBLE / lp.c::DOUBLE)
             |                 * 1000000 + 0.5) AS BIGINT)
             |          ELSE CAST(floor(-ln((0.4 * (coalesce(lc.c, 0) + 1)::DOUBLE)
             |                 / ((nt.t + 1024)::DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |        END AS d,
             |        CASE WHEN coalesce(lb.c, 0) > 0 AND coalesce(lp.c, 0) > 0
             |          THEN 0 ELSE 1 END AS bo
             |      FROM pos
             |      LEFT JOIN lmb lb ON x.bb = lb.b
             |      LEFT JOIN lmu lp ON x.bp = lp.b
             |      LEFT JOIN lmu lc ON x.bc = lc.b, nt),
             |ps AS (SELECT lang, CAST(sum(d) AS BIGINT) AS score_sum,
             |         count(*) AS n_pos, CAST(sum(bo) AS BIGINT) AS n_backoff
             |       FROM d GROUP BY lang),
             |nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
             |SELECT nd.lang, nd.n_docs,
             |  CAST(coalesce(ps.n_pos, 0) AS BIGINT) AS n_pos,
             |  CAST(coalesce(ps.n_backoff, 0) AS BIGINT) AS n_backoff,
             |  CAST(coalesce(ps.score_sum, 0) AS BIGINT) AS score_sum
             |FROM nd LEFT JOIN ps ON nd.lang = ps.lang
             |ORDER BY nd.lang""".stripMargin)),

    // ----- K4: count-min frequency sketch (Cormode & Muthukrishnan
    // 2005) — the third sketch beside KMV/HLL (those answer "how many
    // distinct", this answers "how often"): d=4 hash rows × w=256
    // counters over the token stream, built RELATIONALLY (the counter
    // matrix is groupBy(row, bucket).count() — map-side combined,
    // ≤ d·w rows cross the wire at any corpus size). Probes mix hot
    // tokens, the rare 'dup', and an absent one; every estimate is an
    // over-count (min across rows), compared here against the exact
    // census the sketch replaces at scale. The oracle replays buckets,
    // counters, probes, and exact counts.
    Q("k4_countmin",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.CountMin
        val toks = t(s, dir, "documents")
          .select(explode(split($"text", " ")).as("tok"))
        val cm = CountMin.table(toks, $"tok", d = 4, w = 256)
        val probes = Seq("batch", "join", "dup", "scan", "value", "zzz_absent")
          .toDF("tok")
        val exact = toks.groupBy($"tok").agg(count(lit(1)).as("exact"))
        CountMin.estimate(cm, probes, $"tok", d = 4, w = 256)
          .join(exact.withColumnRenamed("tok", "value"), Seq("value"), "left")
          .select($"value", coalesce($"exact", lit(0L)).as("exact"), $"est")
          .orderBy($"value")
      },
      Some("""WITH toks AS (SELECT unnest(string_split(text,' ')) AS tok FROM documents),
             |rb AS (SELECT r.j AS rw,
             |         ('0x'||substr(md5(r.j::VARCHAR||'|'||tok),1,15))::BIGINT % 256 AS bucket
             |       FROM toks CROSS JOIN (SELECT unnest(range(4)) AS j) r),
             |cm AS MATERIALIZED (SELECT rw, bucket, count(*) AS cnt
             |      FROM rb GROUP BY 1, 2),
             |pv AS (SELECT unnest(['batch','join','dup','scan','value','zzz_absent']) AS value),
             |pb AS (SELECT value, r.j AS rw,
             |         ('0x'||substr(md5(r.j::VARCHAR||'|'||value),1,15))::BIGINT % 256 AS bucket
             |       FROM pv CROSS JOIN (SELECT unnest(range(4)) AS j) r),
             |est AS (SELECT pb.value, min(coalesce(cm.cnt, 0)) AS est
             |        FROM pb LEFT JOIN cm USING (rw, bucket) GROUP BY pb.value),
             |ex AS (SELECT tok AS value, count(*) AS exact FROM toks GROUP BY 1)
             |SELECT est.value, CAST(coalesce(ex.exact, 0) AS BIGINT) AS exact,
             |  CAST(est.est AS BIGINT) AS est
             |FROM est LEFT JOIN ex USING (value)
             |ORDER BY est.value""".stripMargin))
  )

  private lazy val roundEight: Seq[Q] = Seq(
    // ----- K5: histogram-census quantiles — per-group percentiles with
    // NO sort and NO per-group value buffers (the census-not-sort
    // discipline as a first-class operator). The only data-sized job is
    // the map-side-combined (group, bucket) census (≤ #groups × #buckets
    // rows shuffle); ranks are integer ceilings over the bounded table.
    // Here: p50/p90/p99 of document length per language at bucket width
    // 64 chars. The oracle replays buckets, running sums, and rank
    // selection in exact integer arithmetic.
    Q("k5_hist_quantiles",
      (s, dir) => {
        import s.implicits._
        graft.sketch.Census.histQuantiles(
          t(s, dir, "documents"), $"n_chars", Seq("lang"),
          bucketWidth = 64L, permille = Seq(500, 900, 990))
          .orderBy($"lang", $"permille")
      },
      Some("""WITH census AS (
             |  SELECT lang, (n_chars - ((n_chars % 64) + 64) % 64) // 64 AS bucket,
             |         count(*) AS cnt
             |  FROM documents GROUP BY 1, 2),
             |cum AS (
             |  SELECT lang, bucket,
             |         sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
             |         sum(cnt) OVER (PARTITION BY lang) AS total
             |  FROM census),
             |pm AS (SELECT CAST(unnest([500, 900, 990]) AS INT) AS permille),
             |sel AS (
             |  SELECT c.lang, pm.permille, min(c.bucket) AS b
             |  FROM cum c CROSS JOIN pm
             |  WHERE c.cum >= greatest(1, (pm.permille * c.total + 999) // 1000)
             |  GROUP BY 1, 2)
             |SELECT lang, permille, CAST((b + 1) * 64 - 1 AS BIGINT) AS q_upper
             |FROM sel ORDER BY lang, permille""".stripMargin)),

    // ----- K6: sketch-prefiltered heavy hitters — the canonical count-min
    // two-pass. Pass 1 builds the d×w counter table; pass 2 computes the
    // estimate MAP-SIDE (d broadcast joins + least, no exchange) and drops
    // sub-threshold rows BEFORE the exact groupBy, so only candidates
    // shuffle. w=16 forces real collisions (31-token vocabulary over 16
    // buckets): the oracle replays the inflated est values, and the
    // over-count guarantee (est ≥ exact) is what makes the prefilter
    // lossless. Output: the true ≥940 heavy hitters with exact and est.
    Q("k6_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.CountMin
        val toks = t(s, dir, "documents")
          .select(explode(split($"text", " ")).as("tok"))
        CountMin.heavyHitters(toks, $"tok", d = 4, w = 16, threshold = 940L)
          .orderBy($"value")
      },
      Some("""WITH toks AS (SELECT unnest(string_split(text,' ')) AS tok FROM documents),
             |rb AS (SELECT tok, r.j AS rw,
             |         ('0x'||substr(md5(r.j::VARCHAR||'|'||tok),1,15))::BIGINT % 16 AS bucket
             |       FROM toks CROSS JOIN (SELECT unnest(range(4)) AS j) r),
             |cm AS MATERIALIZED (SELECT rw, bucket, count(*) AS cnt
             |      FROM rb GROUP BY 1, 2),
             |ex AS (SELECT tok, count(*) AS exact FROM toks GROUP BY 1),
             |eb AS (SELECT ex.tok, ex.exact, min(cm.cnt) AS est
             |       FROM ex CROSS JOIN (SELECT unnest(range(4)) AS j) r
             |       JOIN cm ON cm.rw = r.j AND cm.bucket =
             |         ('0x'||substr(md5(r.j::VARCHAR||'|'||ex.tok),1,15))::BIGINT % 16
             |       GROUP BY 1, 2)
             |SELECT tok AS value, CAST(exact AS BIGINT) AS exact,
             |  CAST(est AS BIGINT) AS est
             |FROM eb WHERE est >= 940 AND exact >= 940
             |ORDER BY value""".stripMargin)),

    // ----- K7: theta-sketch SET OPERATIONS (Dasgupta et al., the Apache
    // DataSketches theta family) — distinct-count union / intersection /
    // difference of sets sketched INDEPENDENTLY. k1/k2 answer "how many
    // distinct" for one stream; governance questions are relational: how
    // many distinct tokens do the two corpus halves SHARE, how many are
    // unique to each. Each side is scanned ONCE into a 64-long bottom-k
    // sketch (mergeable state, map-side combined); every pairwise
    // estimate is then pure expression arithmetic over two KB arrays —
    // an n×m corpus grid costs n sketches, not n·m scans (the
    // sketch-side companion of x24's exact overlap census). Estimates
    // are exactly deterministic for the fixed 60-bit md5 hash; the
    // oracle replays sketches, thetas, and every estimator bit-for-bit.
    Q("k7_theta_ops",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.{Kmv, Theta}
        val toks = t(s, dir, "documents")
          .select($"doc_id", explode(split($"text", " ")).as("tok"))
          .filter(length($"tok") > 0)
          .select(($"doc_id" % 2 === 0).as("side"), Kmv.hash60($"tok").as("h"))
        val sk = toks.groupBy($"side").agg(Theta.sketch($"h", 64).as("sk"))
        sk.filter($"side").select($"sk".as("ska"))
          .crossJoin(sk.filter(!$"side").select($"sk".as("skb")))
          .select(
            Theta.distinctEstimate($"ska", 64).as("est_a"),
            Theta.distinctEstimate($"skb", 64).as("est_b"),
            Theta.unionEstimate($"ska", $"skb", 64).as("est_union"),
            Theta.intersectEstimate($"ska", $"skb", 64).as("est_intersect"),
            Theta.diffEstimate($"ska", $"skb", 64).as("est_diff_ab"),
            Theta.diffEstimate($"skb", $"ska", 64).as("est_diff_ba"))
      },
      Some("""WITH tok AS (SELECT doc_id % 2 = 0 AS side,
             |         ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h
             |       FROM documents, unnest(string_split(text, ' ')) AS t(tok)
             |       WHERE len(t.tok) > 0),
             |dh AS (SELECT DISTINCT side, h FROM tok),
             |rk AS (SELECT side, h, row_number() OVER (PARTITION BY side ORDER BY h) AS rn FROM dh),
             |ska AS (SELECT list(h ORDER BY h) AS sk FROM rk WHERE side AND rn <= 64),
             |skb AS (SELECT list(h ORDER BY h) AS sk FROM rk WHERE NOT side AND rn <= 64),
             |pair AS (SELECT a.sk AS ska, b.sk AS skb,
             |           CASE WHEN len(a.sk) < 64 THEN 1152921504606846976 ELSE a.sk[64] END AS tha,
             |           CASE WHEN len(b.sk) < 64 THEN 1152921504606846976 ELSE b.sk[64] END AS thb
             |         FROM ska a CROSS JOIN skb b),
             |p2 AS (SELECT *, least(tha, thb) AS thab,
             |           len(list_filter(list_intersect(ska, skb), x -> x < least(tha, thb))) AS n_int,
             |           len(list_filter(ska, x -> x < least(tha, thb) AND NOT list_contains(skb, x))) AS n_dab,
             |           len(list_filter(skb, x -> x < least(tha, thb) AND NOT list_contains(ska, x))) AS n_dba,
             |           list_sort(list_filter(list_distinct(list_concat(ska, skb)), x -> x < least(tha, thb))) AS mu
             |         FROM pair)
             |SELECT
             |  CASE WHEN len(ska) < 64 THEN len(ska)
             |       ELSE CAST(floor(63.0 * pow(2.0, 60) / CAST(ska[64] AS DOUBLE)) AS BIGINT) END AS est_a,
             |  CASE WHEN len(skb) < 64 THEN len(skb)
             |       ELSE CAST(floor(63.0 * pow(2.0, 60) / CAST(skb[64] AS DOUBLE)) AS BIGINT) END AS est_b,
             |  CASE WHEN len(mu) > 64
             |       THEN CAST(floor(63.0 * pow(2.0, 60) / CAST(mu[64] AS DOUBLE)) AS BIGINT)
             |       ELSE CAST(floor(CAST(len(mu) AS DOUBLE) * pow(2.0, 60) / CAST(thab AS DOUBLE)) AS BIGINT) END AS est_union,
             |  CAST(floor(CAST(n_int AS DOUBLE) * pow(2.0, 60) / CAST(thab AS DOUBLE)) AS BIGINT) AS est_intersect,
             |  CAST(floor(CAST(n_dab AS DOUBLE) * pow(2.0, 60) / CAST(thab AS DOUBLE)) AS BIGINT) AS est_diff_ab,
             |  CAST(floor(CAST(n_dba AS DOUBLE) * pow(2.0, 60) / CAST(thab AS DOUBLE)) AS BIGINT) AS est_diff_ba
             |FROM p2""".stripMargin)),

    // ----- K9: uniform sample of the DISTINCT domain without a global
    // distinct (bottom-k sampling — the second life of the theta
    // sketch): min-wise hashing makes the k smallest hashes a uniform
    // sample of the distinct VALUE domain (not frequency-weighted —
    // every distinct token equally likely, however often it occurs),
    // and the sketch is mergeable map-side-combined state, so the
    // corpus never shuffles; values come back by joining the k-row
    // broadcast hash set against the raw token stream and distinct-ing
    // the ≤ k·occurrence matches (tiny), never the corpus. The oracle
    // replays hash ranking → bottom-20 → value recovery.
    Q("k9_distinct_sample",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.{Kmv, Theta}
        val toks = t(s, dir, "documents")
          .select(explode(split($"text", " ")).as("tok"))
          .filter(length($"tok") > 0)
          .select($"tok", Kmv.hash60($"tok").as("h"))
        val sk = toks.agg(Theta.sketch($"h", 20).as("sk"))
          .select(explode($"sk").as("h"))
        toks.join(broadcast(sk), Seq("h"))
          .select($"tok").distinct()
          .orderBy($"tok")
      },
      Some("""WITH tok AS (SELECT DISTINCT t.tok,
             |         ('0x'||substr(md5(t.tok),1,15))::BIGINT AS h
             |       FROM documents, unnest(string_split(text, ' ')) AS t(tok)
             |       WHERE len(t.tok) > 0),
             |bk AS (SELECT h FROM (SELECT DISTINCT h FROM tok)
             |       ORDER BY h LIMIT 20)
             |SELECT tok FROM tok JOIN bk USING (h) ORDER BY tok""".stripMargin)),

    // ----- V13: scalar quantization (SQ8) top-k — the FAISS QT_8bit
    // middle rung between exact vectors and PQ: one byte per dim on a
    // per-dim [min,max] grid (8× smaller state; 256 levels/dim vs ADC's
    // ks levels per 16-dim block, so no re-rank stage needed). Grid =
    // dim-row census; encode = one map-side projection off the literal
    // grid; query scan = broadcast codes, per-query top-k window the
    // only exchange. The oracle replays grid, codes, and integer code-
    // space L2 bit-for-bit.
    Q("v13_sq8_topk",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val grid = Ann.sqParams(prepared)
        val codes = Ann.sqEncode(prepared, grid)
        Ann.sqTopK(codes, codes.filter($"id" % 50 === 0), k = 5)
          .orderBy($"qid", $"rk")
      },
      Some("""WITH q AS (SELECT vec_id AS id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |dims AS (SELECT CAST(i AS INT) AS d FROM range(0,64) t(i)),
             |px AS (SELECT q.id, d, qv[d+1] AS x FROM q CROSS JOIN dims),
             |grid AS (SELECT d, min(x) AS mn, max(x) AS mx FROM px GROUP BY d),
             |enc AS MATERIALIZED (SELECT px.id, px.d,
             |         CASE WHEN g.mx = g.mn THEN 0
             |              ELSE least(255, ((px.x - g.mn) * 255) // (g.mx - g.mn)) END AS code
             |       FROM px JOIN grid g USING (d)),
             |qq AS (SELECT * FROM enc WHERE id % 50 = 0),
             |pd AS (SELECT qq.id AS qid, e.id AS nid,
             |         sum((qq.code - e.code) * (qq.code - e.code)) AS d2c
             |       FROM qq JOIN enc e ON qq.d = e.d AND qq.id <> e.id
             |       GROUP BY 1, 2),
             |rk AS (SELECT qid, nid, d2c,
             |         row_number() OVER (PARTITION BY qid ORDER BY d2c, nid) AS rk
             |       FROM pd)
             |SELECT qid, CAST(rk AS INT) AS rk, nid, CAST(d2c AS BIGINT) AS d2c
             |FROM rk WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),

    // ----- S11: stream-STREAM interval join — the one Structured
    // Streaming join family the s-queries didn't cover (s1-s10 are all
    // stream-static or single-stream stateful). View→purchase attribution:
    // each purchase joins every view by the same user in the preceding
    // day. Both sides carry event-time watermarks, so the join STATE is
    // bounded — Spark evicts view rows once the purchase watermark passes
    // vts + 1 day (at scale this is what makes an unbounded two-stream
    // join runnable at all). Inner join emits eagerly → deterministic
    // under processAllAvailable; the memory sink is batch-aggregated and
    // the oracle is the equivalent batch interval join.
    Q("s11_stream_join",
      (s, dir) => {
        import s.implicits._
        val schema = s.read.parquet(s"$dir/events.parquet").schema
        val queryName = "graft_sjoin_" + java.util.UUID.randomUUID.toString.replace("-", "")
        def mk() = {
          val st = s.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
          normTs(st)
        }
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val views = mk().filter($"event_type" === "view")
            .select($"user_id".as("v_user"), $"ts".as("vts"))
            .withWatermark("vts", "2 days")
          val purchases = mk().filter($"event_type" === "purchase")
            .select($"user_id".as("p_user"), $"ts".as("pts"), $"value")
            .withWatermark("pts", "2 days")
          val q = views.join(purchases,
              expr("v_user = p_user AND pts >= vts AND pts <= vts + interval 1 day"))
            .select($"v_user".as("user_id"), quant($"value", 100).as("cents"))
            .writeStream.outputMode("append")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        s.table(queryName)
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_attributed"), sum($"cents").as("sum_cents"))
          .orderBy($"user_id")
      },
      Some("""SELECT v.user_id, count(*) AS n_attributed,
             |  CAST(sum(CAST(floor(p.value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events v JOIN events p
             |  ON v.user_id = p.user_id
             | AND v.event_type = 'view' AND p.event_type = 'purchase'
             | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 DAY
             |GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  /** The flagship-recipe chain, stage 1 (shared by x21/x23): manufacture
    * pages -> C4 line+page rules -> Gopher hard gates -> frequent-line
    * boilerplate removal -> CCNet perplexity tercile gate. Returns
    * (raw documents, ppl survivors (doc_id, lang, text2)). See the x21
    * comment block for the stage-barrier (localCheckpoint) rationale. */
  private def recipeToPpl(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
        import s.implicits._
        val D = graft.dedup.Dedup
        import graft.text.{C4, Dsir, Perplexity}
        import graft.ops.Sample
        val raw = t(s, dir, "documents")
        val pages = raw.select($"doc_id", $"lang", $"text")
          .withColumn("tk", split($"text", " "))
          .withColumn("nl", expr("(size(tk) + 4) div 5").cast("int"))
          .withColumn("base", expr(
            """transform(sequence(0, nl - 1), i ->
                 concat(array_join(slice(tk, i*5 + 1, 5), ' '),
                        if((doc_id + i) % 3 != 0, '.', '')))"""))
          .withColumn("wban", expr(
            "if(doc_id % 2 = 0, concat(base, array('subscribe to our newsletter today.')), base)"))
          .withColumn("withjs", expr(
            "if(doc_id % 11 = 0, concat(wban, array('enable javascript now.')), wban)"))
          .withColumn("withlorem", expr(
            "if(doc_id % 17 = 0, concat(withjs, array('lorem ipsum.')), withjs)"))
          .withColumn("withbrace", expr(
            "if(doc_id % 23 = 0, concat(withlorem, array('schema {')), withlorem)"))
          .withColumn("page", array_join($"withbrace", "\n"))
          .select($"doc_id", $"lang", $"page")
          // OPTIMIZER-BLOWUP BARRIER (ledger-driven, SCALE.md r17): the
          // C4 "kept" predicate would otherwise be predicate-pushed below
          // these five chained column definitions, and alias substitution
          // INLINES the whole page-construction expression into every
          // if/else branch it crosses — a combinatorially duplicated
          // filter (the same transform(...) appears dozens of times in
          // the pushed predicate) that re-evaluates the page build ~30x
          // per row inside one task. Materializing the synthetic-fixture
          // construction once makes the blowup impossible: the x23 gop
          // stage fell 2.46 s -> 0.29 + 0.62 s and the whole chain
          // 7.63 -> 6.21 s in the per-barrier probe. (A real 100 TB
          // pipeline reads its corpus from a table, where no such alias
          // chain exists; the barrier is fixture-scoped by construction.)
          .localCheckpoint(true)
        val c4 = C4.clean(pages, "page", C4.Rules())
          .filter($"reason" === "kept")
          .select($"doc_id", $"lang", $"kept_text")
        val tk2 = split($"kept_text", " ")
        val gop = c4
          .withColumn("nw", size(tk2).cast("long"))
          .withColumn("sc", length($"kept_text") - $"nw" + 1)
          .withColumn("nd", size(array_distinct(tk2)).cast("long"))
          .withColumn("nstop", size(filter(tk2,
            t => t.isin("join", "hash", "row", "scan", "batch"))).cast("long"))
          .filter($"nw" >= 20 && $"nw" <= 200 &&
            expr("(sc * 100) div nw") >= 300 && expr("(sc * 100) div nw") <= 1000 &&
            expr("(nd * 100) div nw") >= 25 && $"nstop" >= 2)
          .select($"doc_id", $"lang", $"kept_text").localCheckpoint(true)
        val rw = D.removeFrequentLines(gop, "doc_id", "kept_text", maxDocFreq = 120L)
          .select($"id".as("doc_id"), $"kept_text".as("text2"))
          .join(gop.select($"doc_id", $"lang"), Seq("doc_id")).localCheckpoint(true)
        val lm = Dsir.bucketCounts(
          raw.filter($"lang" === "en" && $"doc_id" % 3 === 0), "text", 2, 1024)
        val scored = Perplexity.nll(rw, "doc_id", "text2", lm, n = 2,
          numBuckets = 1024, quantDigits = 6)
        val wT = Window.partitionBy($"lang").orderBy($"mean_nll", $"doc_id")
        val ppl = rw.join(scored.select($"doc_id", $"mean_nll"), Seq("doc_id"))
          .withColumn("tc", ntile(3).over(wT)).filter($"tc" <= 2)
          .select($"doc_id", $"lang", $"text2")
        (raw, ppl)
  }

  /** The flagship-recipe chain, stage 2 (shared by x21/x23), running on
    * the quality-gated survivors: exact dedup keep-min -> minhash+CC
    * near-dup removal -> eval-slice decontamination -> UniMax
    * water-fill -> 256-token packing over 4 shards + export stats. */
  private def recipeTail(s: SparkSession, gated: DataFrame): DataFrame = {
        import s.implicits._
        val D = graft.dedup.Dedup
        import graft.ops.Sample
        val keep = gated.groupBy(md5($"text2").as("h"))
          .agg(min($"doc_id").as("doc_id")).select($"doc_id")
        val exd = gated.join(keep, Seq("doc_id"), "left_semi").localCheckpoint(true)
        val dd = withStreamPartitions(s, 8) {
          D.dedupCorpus(exd, "doc_id", "text2", threshold = 0.8).localCheckpoint(true)
        }
        val evalSlice = conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long") % 50 === 7
        val cleanIds = D.decontaminate(
            dd.filter(!evalSlice), dd.filter(evalSlice), "doc_id", "text2", shingleN = 3)
          .filter($"matched" * 2 <= $"n_grams").select($"id".as("doc_id"))
        val clean = dd.join(cleanIds, Seq("doc_id"), "left_semi")
          .select($"doc_id", $"lang",
            size(split($"text2", " ")).cast("long").as("tkn")).localCheckpoint(true)
        val census = clean.groupBy($"lang").agg(sum($"tkn").as("tokens"))
        val budgets = Sample.unimaxBudgets(census, "lang", "tokens",
          totalBudget = 6000L, maxEpochs = 1)
        val sel = Sample.unimaxSelect(clean, "lang", $"doc_id", "tkn", budgets)
        val hkey = conv(substring(md5(concat(lit("pack:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
          .cast("long")
        val base = sel.select($"doc_id", hkey.as("hkey"), $"tkn")
          .withColumn("shard", pmod($"hkey", lit(4L)))
        val wP = Window.partitionBy($"shard").orderBy($"hkey")
        base.withColumn("e", sum($"tkn").over(wP))
          .select($"shard", $"doc_id", $"e",
            expr("(e - tkn) div 256").as("fc"), expr("(e - 1) div 256").as("lc"))
          .groupBy($"shard")
          .agg(count(lit(1)).as("n_docs"), max($"e").as("total_toks"),
               expr("(max(e) + 255) div 256").as("n_chunks"),
               sum(when($"fc" =!= $"lc", 1L).otherwise(0L)).as("n_crossers"),
               sum($"fc" * $"doc_id").as("chunk_checksum"),
               sum($"doc_id").as("id_checksum"))
          .orderBy($"shard")
  }

  /** DuckDB replay of [[recipeToPpl]] — CTEs through `ppl`. */
  private lazy val recipeSqlToPpl: String =
    """WITH RECURSIVE
             |s AS (SELECT doc_id, lang, string_split(text,' ') AS tk FROM documents),
             |lb AS (SELECT doc_id, tk, unnest(range((len(tk)+4)//5)) AS i FROM s),
             |l1 AS (SELECT doc_id, i,
             |         array_to_string(tk[i*5+1:i*5+5],' ')
             |           || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END AS line
             |       FROM lb),
             |exl AS (SELECT doc_id, 999998 AS i, 'subscribe to our newsletter today.' AS line
             |         FROM s WHERE doc_id % 2 = 0
             |       UNION ALL SELECT doc_id, 999999, 'enable javascript now.' FROM s WHERE doc_id % 11 = 0
             |       UNION ALL SELECT doc_id, 1000000, 'lorem ipsum.' FROM s WHERE doc_id % 17 = 0
             |       UNION ALL SELECT doc_id, 1000001, 'schema {' FROM s WHERE doc_id % 23 = 0),
             |al AS MATERIALIZED (SELECT * FROM l1 UNION ALL SELECT * FROM exl),
             |pg AS MATERIALIZED (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS page
             |       FROM al GROUP BY doc_id),
             |kl AS MATERIALIZED (SELECT doc_id, i, line FROM al
             |       WHERE regexp_matches(line, '[.!?"]$')
             |         AND len(list_filter(string_split_regex(line,'\s+'), t -> len(t) > 0)) >= 3
             |         AND NOT contains(lower(line), 'javascript')),
             |ck AS MATERIALIZED (SELECT pg.doc_id,
             |         coalesce(string_agg(kl.line, chr(10) ORDER BY kl.i), '') AS kept_text
             |       FROM pg LEFT JOIN kl ON pg.doc_id = kl.doc_id GROUP BY pg.doc_id),
             |c4 AS (SELECT pg.doc_id FROM pg JOIN ck ON pg.doc_id = ck.doc_id
             |       WHERE NOT contains(lower(pg.page), 'lorem ipsum')
             |         AND NOT contains(pg.page, '{')
             |         AND length(regexp_replace(ck.kept_text, '[^.!?]', '', 'g')) >= 5),
             |gin AS (SELECT c4.doc_id, d.lang, ck.kept_text, string_split(ck.kept_text, ' ') AS tk
             |        FROM c4 JOIN ck ON c4.doc_id = ck.doc_id JOIN documents d ON c4.doc_id = d.doc_id),
             |gop AS MATERIALIZED (SELECT doc_id, lang FROM gin
             |        WHERE len(tk) BETWEEN 20 AND 200
             |          AND ((length(kept_text) - len(tk) + 1)*100)//len(tk) BETWEEN 300 AND 1000
             |          AND (len(list_distinct(tk))*100)//len(tk) >= 25
             |          AND len(list_filter(tk, t -> t IN ('join','hash','row','scan','batch'))) >= 2),
             |gl AS MATERIALIZED (SELECT g.doc_id, g.lang, kl.i AS pos, kl.line,
             |         ('0x'||substr(md5(lower(trim(kl.line))),1,15))::BIGINT AS lh
             |       FROM gop g JOIN kl ON g.doc_id = kl.doc_id),
             |fr AS (SELECT lh FROM (SELECT DISTINCT doc_id, lh FROM gl)
             |       GROUP BY lh HAVING count(*) > 120),
             |kp AS (SELECT gl.doc_id, gl.pos, gl.line FROM gl
             |       LEFT JOIN fr ON gl.lh = fr.lh WHERE fr.lh IS NULL),
             |rw AS MATERIALIZED (SELECT g.doc_id, g.lang, coalesce(a.text2, '') AS text2
             |       FROM gop g LEFT JOIN
             |         (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text2
             |          FROM kp GROUP BY doc_id) a ON g.doc_id = a.doc_id),
             |gtr AS (SELECT unnest(list_transform(range(len(tk)-1),
             |          i -> ('0x'||substr(md5(tk[i+1]||' '||tk[i+2]),1,15))::BIGINT % 1024)) AS b
             |        FROM s WHERE lang = 'en' AND doc_id % 3 = 0 AND len(tk) >= 2),
             |lm AS MATERIALIZED (SELECT b, count(*) AS c FROM gtr GROUP BY b),
             |lt AS MATERIALIZED (SELECT count(*) AS t FROM gtr),
             |qtk AS MATERIALIZED (SELECT doc_id, lang, text2, string_split(text2,' ') AS s2 FROM rw),
             |gsc AS (SELECT doc_id, unnest(list_transform(range(len(s2)-1),
             |          i -> ('0x'||substr(md5(s2[i+1]||' '||s2[i+2]),1,15))::BIGINT % 1024)) AS b
             |        FROM qtk WHERE len(s2) >= 2),
             |qd AS (SELECT gsc.doc_id,
             |        CAST(floor(-ln(((coalesce(lm.c, 0) + 1)::DOUBLE)
             |                       / ((lt.t + 1024)::DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS d
             |      FROM gsc LEFT JOIN lm ON gsc.b = lm.b, lt),
             |scs AS (SELECT doc_id, sum(d) AS nll, count(*) AS n FROM qd GROUP BY doc_id),
             |mm AS (SELECT q.doc_id, q.lang, q.text2,
             |        CASE WHEN coalesce(scs.n, 0) > 0
             |             THEN coalesce(scs.nll, 0) // scs.n ELSE 0 END AS mean_nll
             |      FROM qtk q LEFT JOIN scs ON q.doc_id = scs.doc_id),
             |ppl AS (SELECT doc_id, lang, text2 FROM
             |         (SELECT *, ntile(3) OVER (PARTITION BY lang ORDER BY mean_nll, doc_id) AS tc
             |          FROM mm)
             |        WHERE tc <= 2),
|""".stripMargin

  /** DuckDB replay of [[recipeTail]] from the gated source CTE `src`. */
  private def recipeSqlTail(src: String): String =
    """exd AS MATERIALIZED (SELECT p.* FROM %SRC% p JOIN
             |         (SELECT min(doc_id) AS keep FROM %SRC% GROUP BY md5(text2)) e
             |       ON p.doc_id = e.keep),
             |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text2,' '))) AS tok FROM exd),
             |sig AS (SELECT doc_id,
             |    min(md5('0|'||tok)) AS h0, min(md5('1|'||tok)) AS h1,
             |    min(md5('2|'||tok)) AS h2, min(md5('3|'||tok)) AS h3,
             |    min(md5('4|'||tok)) AS h4, min(md5('5|'||tok)) AS h5,
             |    min(md5('6|'||tok)) AS h6, min(md5('7|'||tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS MATERIALIZED (
             |  SELECT doc_id, 0 AS band, md5(h0||h1||h2||h3) AS key FROM sig UNION ALL
             |  SELECT doc_id, 1, md5(h4||h5||h6||h7) FROM sig),
             |roots AS (SELECT band, key, min(doc_id) AS root FROM bands
             |          GROUP BY 1, 2 HAVING count(*) > 1),
             |cand AS (SELECT DISTINCT r.root AS id_a, b.doc_id AS id_b
             |         FROM bands b JOIN roots r ON b.band = r.band AND b.key = r.key
             |         WHERE b.doc_id != r.root),
             |sets AS MATERIALIZED (SELECT doc_id,
             |         list_distinct(list_transform(string_split(text2,' '),
             |           tok -> ('0x'||substr(md5(tok),1,15))::BIGINT)) AS st FROM exd),
             |pairs AS (SELECT id_a, id_b FROM cand
             |  JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
             |  WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |        / (len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st))) >= 0.8),
             |sym AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
             |reach AS (SELECT a, b FROM sym
             |  UNION
             |  SELECT reach.a, sym.b FROM reach JOIN sym ON reach.b = sym.a WHERE reach.a != sym.b),
             |labels AS (SELECT a AS node, least(a, min(b)) AS label FROM reach GROUP BY a),
             |losers AS (SELECT node FROM labels WHERE label < node),
             |dd AS MATERIALIZED (SELECT * FROM exd WHERE doc_id NOT IN (SELECT node FROM losers)),
             |ev AS MATERIALIZED (SELECT doc_id, lang,
             |         ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 50 = 7 AS is_eval,
             |         string_split(text2,' ') AS s3 FROM dd),
             |gr AS MATERIALIZED (SELECT doc_id, is_eval,
             |         list_distinct(list_transform(range(len(s3)-2),
             |           i -> ('0x'||substr(md5(s3[i+1]||' '||s3[i+2]||' '||s3[i+3]),1,15))::BIGINT)) AS gs
             |       FROM ev WHERE len(s3) >= 3),
             |eg AS (SELECT DISTINCT unnest(gs) AS gram FROM gr WHERE is_eval),
             |contam AS (
             |  SELECT tg.doc_id, count(*) AS ng, count(eg.gram) AS m
             |  FROM (SELECT doc_id, unnest(gs) AS gram FROM gr WHERE NOT is_eval) tg
             |  LEFT JOIN eg ON tg.gram = eg.gram GROUP BY 1),
             |clean AS MATERIALIZED (SELECT ev.doc_id, ev.lang, CAST(len(ev.s3) AS BIGINT) AS tkn
             |        FROM ev JOIN contam c ON ev.doc_id = c.doc_id
             |        WHERE NOT ev.is_eval AND c.m * 2 <= c.ng),
             |cns AS (SELECT lang, CAST(sum(tkn) AS BIGINT) AS tokens FROM clean GROUP BY lang),
             |r AS (SELECT lang, tokens, tokens * 1 AS cap,
             |        row_number() OVER (ORDER BY tokens * 1, lang) AS i,
             |        count(*) OVER () AS k,
             |        sum(tokens * 1) OVER (ORDER BY tokens * 1, lang
             |          ROWS UNBOUNDED PRECEDING) AS prefix
             |      FROM cns),
             |tt AS (SELECT *, (6000 - (prefix - cap)) // (k - i + 1) AS tcand,
             |        ((6000 - (prefix - cap)) // (k - i + 1)) <= cap AS hit FROM r),
             |st AS (SELECT *, min(CASE WHEN hit THEN i END) OVER () AS istar FROM tt),
             |s2t AS (SELECT *, max(CASE WHEN i = istar THEN tcand END) OVER () AS tstar FROM st),
             |b AS (SELECT lang, CASE WHEN istar IS NULL OR i < istar THEN cap
             |             ELSE greatest(tstar, 0) END AS budget FROM s2t),
             |hh AS (SELECT doc_id, lang, tkn,
             |        ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT AS hv FROM clean),
             |cum AS (SELECT lang, doc_id, tkn,
             |          sum(tkn) OVER (PARTITION BY lang ORDER BY hv, doc_id
             |            ROWS UNBOUNDED PRECEDING) AS cm FROM hh),
             |sel AS (SELECT cum.doc_id, cum.tkn FROM cum JOIN b USING (lang) WHERE cm <= b.budget),
             |ph AS (SELECT doc_id, tkn,
             |    ('0x'||substr(md5('pack:'||doc_id::VARCHAR),1,15))::BIGINT AS hkey FROM sel),
             |pc AS (SELECT doc_id, hkey % 4 AS shard, tkn,
             |        sum(tkn) OVER (PARTITION BY hkey % 4 ORDER BY hkey) AS e
             |      FROM ph),
             |pp AS (SELECT shard, doc_id, e, (e - tkn) // 256 AS fc, (e - 1) // 256 AS lc FROM pc)
             |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
             |  CAST(max(e) AS BIGINT) AS total_toks,
             |  CAST((max(e) + 255) // 256 AS BIGINT) AS n_chunks,
             |  CAST(sum(CASE WHEN fc <> lc THEN 1 ELSE 0 END) AS BIGINT) AS n_crossers,
             |  CAST(sum(fc * doc_id) AS BIGINT) AS chunk_checksum,
             |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
             |FROM pp GROUP BY shard ORDER BY shard""".stripMargin.replace("%SRC%", src)

  /** DuckDB replay of the t15 NB train→score→gate block, spliced between
    * [[recipeSqlToPpl]]'s `ppl` and [[recipeSqlTail]] (src = `mg`) for
    * x23: the planted-topic teacher labels, one-pass census training to
    * the dense C×257 quantized-log model, whole-corpus scoring, and the
    * keep-top-slice gate (pred <> 'ads'). CTEs are n-prefixed to stay
    * clear of the recipe chain's names. */
  private lazy val nbGateReplaySql: String =
    """nlab AS (SELECT doc_id,
      |    (['ads','news','code'])[(doc_id % 3 + 1)::INT] AS truth,
      |    text || ' ' ||
      |    ([['win','free','prize'],['today','report','city'],['func','var','loop']])
      |      [(doc_id % 3 + 1)::INT][((doc_id // 3) % 3 + 1)::INT] || ' ' ||
      |    ([['win','free','prize'],['today','report','city'],['func','var','loop']])
      |      [(doc_id % 3 + 1)::INT][((doc_id // 9) % 3 + 1)::INT] AS text2
      |  FROM documents),
      |ntr AS MATERIALIZED (SELECT * FROM nlab WHERE doc_id % 2 = 0),
      |ngr AS (SELECT truth, ('0x'||substr(md5(tok),1,15))::BIGINT % 256 AS bucket
      |       FROM (SELECT truth, unnest(string_split(text2,' ')) AS tok FROM ntr)),
      |ncc AS (SELECT truth, bucket, count(*) AS c FROM ngr GROUP BY 1,2),
      |ntot AS (SELECT truth, count(*) AS t FROM ngr GROUP BY 1),
      |nnd AS (SELECT truth, count(*) AS ndc FROM ntr GROUP BY 1),
      |nnn AS (SELECT count(*) AS n FROM ntr),
      |ngrid AS (SELECT ntot.truth AS label, t2.b AS bucket, ntot.t FROM ntot
      |         CROSS JOIN (SELECT unnest(range(256)) AS b) t2),
      |nwt AS (SELECT g.label, g.bucket,
      |         CAST(floor(ln((coalesce(ncc.c,0)+1)::DOUBLE / (g.t+256)::DOUBLE)*1000000 + 0.5) AS BIGINT) AS w
      |       FROM ngrid g LEFT JOIN ncc ON ncc.truth = g.label AND ncc.bucket = g.bucket),
      |npri AS (SELECT nnd.truth AS label, CAST(256 AS BIGINT) AS bucket,
      |          CAST(floor(ln(nnd.ndc::DOUBLE / nnn.n::DOUBLE)*1000000 + 0.5) AS BIGINT) AS w
      |        FROM nnd, nnn),
      |nmodel AS MATERIALIZED (SELECT * FROM nwt UNION ALL SELECT * FROM npri),
      |nf AS (SELECT doc_id, bucket, count(*)::BIGINT AS cnt FROM (
      |       SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT % 256 AS bucket
      |       FROM (SELECT doc_id, unnest(string_split(text2,' ')) AS tok FROM nlab)
      |       UNION ALL SELECT doc_id, 256 FROM nlab) GROUP BY 1,2),
      |nsco AS (SELECT nf.doc_id, m.label, sum(nf.cnt*m.w) AS score
      |        FROM nf JOIN nmodel m USING (bucket) GROUP BY 1,2),
      |npr AS (SELECT doc_id, label AS pred,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label DESC) AS rk
      |       FROM nsco),
      |ngate AS MATERIALIZED (SELECT doc_id FROM npr WHERE rk = 1 AND pred <> 'ads'),
      |mg AS MATERIALIZED (SELECT p.* FROM ppl p JOIN ngate USING (doc_id)),
      |""".stripMargin

  private lazy val roundNine: Seq[Q] = Seq(
    // ----- X23: the flagship recipe v2 — the TRAINED-CLASSIFIER quality
    // gate composed into the x21 chain (the DCLM arXiv:2406.11794 /
    // FineWeb-Edu arXiv:2406.17557 pattern: the model-based filter is the
    // recipe's central stage, not a side query). Same chain as x21
    // through the perplexity terciles, then: train t15's multinomial NB
    // on the deterministic labeled slice (planted-topic teacher corpus,
    // train = doc_id%2=0), score the PPL SURVIVORS with the
    // broadcast C×(buckets+1) model (scoring is per-doc, so gating the
    // scored set up front is hash-identical to scoring the whole corpus
    // and saves one corpus pass), keep the top slice (pred <> 'ads' —
    // planted-signal accuracy is 1.0, so the gate is stable), and run the
    // x21 tail (exact dedup → near-dup CC removal → decontamination →
    // UniMax → packing) on the gated survivors. The oracle replays
    // train → score → gate → recipe end-to-end: x21's replay chain with
    // the t15 model CTEs spliced in between ppl and exd.
    Q("x23_recipe_classifier",
      (s, dir) => {
        import s.implicits._
        // ppl feeds TWO branches below (the survivor gate and the final
        // semi-join) and Spark does no CSE across branches — without the
        // checkpoint the perplexity chain would run twice, costing more
        // than the scoring pass the reorder saves (measured: 10.8 s vs
        // 8.2 s).
        val (raw, ppl0) = recipeToPpl(s, dir)
        val ppl = ppl0.localCheckpoint(true)
        val labeled = plantTopics(raw)
        val model = graft.text.Classifier.trainNaiveBayes(
          labeled.filter($"doc_id" % 2 === 0), "truth", "text2",
          n = 1, numBuckets = 256, quantDigits = 6)
        // Score ONLY the perplexity survivors: prediction is per-doc
        // (features → broadcast-model join → per-doc argmax), so gating
        // the scored set with the semi-join FIRST drops one full corpus
        // pass without touching any surviving doc's prediction — the
        // final ppl ∩ gate set (and hash) is identical.
        val survivors = labeled.join(ppl.select($"doc_id"), Seq("doc_id"), "left_semi")
        val gate = graft.text.Classifier.predict(survivors, "doc_id", "text2", 1, 256, model)
          .filter($"pred" =!= "ads").select($"doc_id")
        recipeTail(s, ppl.join(gate, Seq("doc_id"), "left_semi").localCheckpoint(true))
      },
      Some(recipeSqlToPpl + nbGateReplaySql + recipeSqlTail("mg"))),

    // ----- S12: watermark LATE-DATA EVICTION semantics under controlled
    // arrival — the one Structured Streaming behavior a 100 TB pipeline
    // RELIES on that s1-s11 only exercised implicitly (bounded state is
    // asserted by construction there; here the admit/drop decision
    // itself is the oracle). Arrival is staged into one-file micro-
    // batches (maxFilesPerTrigger=1, modtime-ordered):
    //   wave 1  the full events table — publishes wm = max(ts) - 2 days;
    //   wave 2  a neutral nudge (re-arrival of the min-ts row): needed
    //           because Spark 3.4+ filters late events with the PREVIOUS
    //           batch's watermark (eventTimeWatermarkForLateEvents =
    //           wm_{N-1}; eviction uses wm_N), so the wm wave 1 computed
    //           only gates batches >= 3 — and the nudge itself proves
    //           the lag contract: it is 30 days stale yet ADMITTED,
    //           because its batch's late-watermark is still the epoch;
    //   wave 3  re-arrivals of event_id%7=0 rows, ts shifted back 2 days
    //           (odd ids — mostly inside still-open windows near the
    //           range's end) or 10 days (even ids — hopelessly late,
    //           windows finalized): dropped iff window end <= wm
    //           (measured at sf0.001: 92 partial-aggregate rows dropped
    //           by the watermark, the rest admitted);
    //   waves 4/5  far-future sentinels that ratchet the watermark so
    //           every real window is finalized and emitted in append
    //           mode (their own windows stay open, never emitted, and
    //           are filtered from the result).
    // The oracle replays the rule exactly: wave-3 rows are admissible
    // iff date_trunc(day, ts') + 1 day > max(ts) - 2 days, the nudge is
    // always admitted. At sf0.01 that admits 23 re-arrivals and drops
    // 1406 — both sides of the decision are exercised, and the final
    // per-(day, type) counts can only match if Spark dropped EXACTLY
    // the oracle's set.
    Q("s12_stream_late_eviction",
      (s, dir) => {
        import s.implicits._
        val base = normTs(s.read.parquet(s"$dir/events.parquet"))
        val wave2 = base.filter($"event_id" % 7 === 0)
          .withColumn("ts", when($"event_id" % 2 === 0,
              $"ts" - expr("INTERVAL 10 DAYS"))
            .otherwise($"ts" - expr("INTERVAL 2 DAYS")))
        def sentinel(month: Int, off: Long) = s.range(1).selectExpr(
          s"CAST(${9000000000L + off} AS BIGINT) AS event_id",
          f"TIMESTAMP '2030-$month%02d-01 00:00:00' AS ts",
          "CAST(0 AS BIGINT) AS user_id", "'__s' AS event_type",
          "CAST(0.0 AS DOUBLE) AS value", "'' AS props")
        val tmpRoot = java.nio.file.Files.createTempDirectory("graft_s12_")
        val inDir = tmpRoot.resolve("in"); java.nio.file.Files.createDirectories(inDir)
        def writeWave(df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
          val stage = tmpRoot.resolve(s"stage$k").toString
          df.coalesce(1).write.parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = inDir.resolve(s"wave$k.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          // modtime is the file source's arrival order — pin it
          dst.toFile.setLastModified(1700000000000L + k * 60000L)
        }
        val nudge = base.join(base.select(min($"ts").as("ts")), Seq("ts"))
          .select(base.columns.map(col): _*)
        writeWave(base, 1); writeWave(nudge, 2); writeWave(wave2, 3)
        writeWave(sentinel(1, 0L), 4); writeWave(sentinel(2, 1L), 5)
        val queryName = "graft_late_" + java.util.UUID.randomUUID.toString.replace("-", "")
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = s.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
            .withWatermark("ts", "2 days")
            .groupBy(window($"ts", "1 day").as("w"), $"event_type")
            .agg(count(lit(1)).as("n"), sum(quant($"value", 100)).as("sum_cents"))
            .writeStream.outputMode("append")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        s.table(queryName)
          .filter($"event_type" =!= "__s") // sentinels never emit, but be explicit
          .select($"w.start".as("day"), $"event_type", $"n", $"sum_cents")
          .orderBy($"day", $"event_type")
      },
      Some("""WITH mx AS (SELECT max(ts) AS m FROM events),
             |w2 AS (SELECT ts - CASE WHEN event_id % 2 = 0 THEN INTERVAL 10 DAY
             |                        ELSE INTERVAL 2 DAY END AS ts,
             |              event_type, value
             |       FROM events WHERE event_id % 7 = 0),
             |adm AS (SELECT ts, event_type, value FROM events
             |        UNION ALL
             |        SELECT ts, event_type, value FROM events
             |        WHERE ts = (SELECT min(ts) FROM events)
             |        UNION ALL
             |        SELECT w2.ts, w2.event_type, w2.value FROM w2, mx
             |        WHERE date_trunc('day', w2.ts) + INTERVAL 1 DAY > mx.m - INTERVAL 2 DAY)
             |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             |  count(*) AS n, CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM adm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- V14: IVF-SQ8 — the MIDDLE rung of the composed-index ladder
    // (FAISS "IVF…,SQ8" — Ann.ivfSq): coarse k-means cells bound the
    // scan exactly as v11 does (candidates ~ nProbes·n/kCells), but the
    // postings hold SQ8 byte codes on ONE global per-dim grid, so there
    // is no residual join at all — encoding is a pure map-side literal-
    // grid projection, query codes are probe-independent, and 256
    // levels/dim means no re-rank stage (v13's fidelity at v11's scan
    // bound). The oracle replays coarse training → assignment → grid →
    // codes → 2-probe ranking → code-space L2 → (d2c, nid) top-5.
    Q("v14_ivfsq",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        Ann.ivfSq(prepared, kCells = 4, coarseIters = 1, nProbes = 2, k = 5,
            queryFilter = $"id" % 50 === 0)
          .orderBy($"qid", $"rk")
      },
      Some(ivfSqOracle)),

    // ----- V18: index PERSISTENCE round-trip — the operational claim
    // behind the "stored index" designs (x10's dedup index, s13's
    // deploy mode) made first-class for vectors: the IVF-SQ8 index is
    // three plain DataFrames of primitive columns (centroids kCells
    // rows, grid dim rows, postings one byte-code row per vector), so
    // it round-trips through PARQUET with no custom format — build
    // once, write, reload in a fresh lineage, serve forever; the
    // corpus floats are never read again. The query writes all three
    // artifacts to disk, reloads them in fresh lineages, serves from
    // the RELOADED tables, and is gated by v14's exact oracle —
    // persisted-index serving must be bit-identical to in-memory
    // serving.
    Q("v18_index_persist",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val idx = Ann.ivfSqBuild(prepared, kCells = 4, coarseIters = 1)
        val tmp = java.nio.file.Files.createTempDirectory("graft_v18_").toString
        idx.centroids.write.mode("overwrite").parquet(s"$tmp/centroids")
        idx.grid.write.mode("overwrite").parquet(s"$tmp/grid")
        idx.postings.write.mode("overwrite").parquet(s"$tmp/postings")
        val reloaded = Ann.IvfSqIndex(
          s.read.parquet(s"$tmp/centroids"),
          s.read.parquet(s"$tmp/grid"),
          s.read.parquet(s"$tmp/postings"))
        Ann.ivfSqServe(reloaded, prepared.filter($"id" % 50 === 0), nProbes = 2, k = 5)
          .orderBy($"qid", $"rk")
      },
      Some(ivfSqOracle)),

    // ----- D11: densified one-permutation MinHash LSH — the modern
    // production minhash (Li/Owen/Zhang 2012 + Shrivastava/Li 2014,
    // Dedup.ophSignature): d2's pipeline with its dominant 100 TB cost
    // term cut k×. Classic minhash evaluates k digests per token;
    // hashing the token stream IS the bulk of minhash-LSH at corpus
    // scale (banding/verify touch only signatures and candidates). OPH
    // hashes each token ONCE — bin j = h mod 8, value h div 8, per-bin
    // min, empty bins borrowing cyclically with a t·2^44 offset — then
    // bands, candidates, and the exact-jaccard verify run exactly as
    // d2. Output adds slot_matches (the OPH similarity estimate's
    // numerator) so the oracle replays the estimator, not just the
    // verified pairs.
    Q("d11_minhash_oph",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val sig = graft.dedup.Dedup.ophSignature(docs, "doc_id", "text", k = 8)
          .persist() // one O(docs × 8) table feeds bands, estimates, hot ids
        val bands = sig.select($"id", posexplode(array(
            md5(concat_ws(",", $"h0", $"h1", $"h2", $"h3")),
            md5(concat_ws(",", $"h4", $"h5", $"h6", $"h7")))).as(Seq("band", "key")))
        val cand = bands.as("a").join(bands.as("b"),
            $"a.band" === $"b.band" && $"a.key" === $"b.key" && $"a.id" < $"b.id")
          .select($"a.id".as("id_a"), $"b.id".as("id_b"))
        val matches = (0 until 8).map(i =>
          when(col(s"sa.h$i") === col(s"sb.h$i"), 1).otherwise(0)).reduce(_ + _)
        // d2's 100 TB discipline: hot-bucket ids prune the token-set table
        // before the verify joins; the pair stream is evaluated once
        val hot = bands.groupBy($"band", $"key")
          .agg(count(lit(1)).as("nb")).filter($"nb" > 1).drop("nb")
        val candIds = bands.join(hot, Seq("band", "key"), "left_semi")
          .select($"id").distinct()
        val sets = docs.select($"doc_id".as("id"),
          array_sort(array_distinct(transform(split($"text", " "),
            tok => conv(substring(md5(tok), 1, 15), 16, 10).cast("long")))).as("st"))
          .join(candIds, Seq("id"), "left_semi")
        val j = graft.functions.GraftFunctions.sorted_jaccard_long($"s1.st", $"s2.st")
        cand
          .join(sig.as("sa"), $"id_a" === $"sa.id")
          .join(sig.as("sb"), $"id_b" === $"sb.id")
          .select($"id_a", $"id_b", matches.cast("int").as("slot_matches"))
          .join(sets.as("s1"), $"id_a" === $"s1.id")
          .join(sets.as("s2"), $"id_b" === $"s2.id")
          .filter(j >= 0.95)
          .select($"id_a", $"id_b", $"slot_matches", round(j, 6).as("jaccard"))
          .distinct()
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
             |hv AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT AS h FROM toks),
             |bins AS (SELECT doc_id, h % 8 AS j, min(h // 8) AS v FROM hv GROUP BY 1, 2),
             |grid AS (SELECT d.doc_id, g.j FROM (SELECT DISTINCT doc_id FROM bins) d
             |         CROSS JOIN (SELECT unnest(range(8)) AS j) g),
             |dens AS (SELECT g.doc_id, g.j,
             |           min_by(b.v + t.t * 17592186044416, t.t) AS hv
             |         FROM grid g CROSS JOIN (SELECT unnest(range(8)) AS t) t
             |         JOIN bins b ON b.doc_id = g.doc_id AND b.j = (g.j + t.t) % 8
             |         GROUP BY 1, 2),
             |sig AS MATERIALIZED (SELECT doc_id,
             |    min(CASE WHEN j=0 THEN hv END) AS h0, min(CASE WHEN j=1 THEN hv END) AS h1,
             |    min(CASE WHEN j=2 THEN hv END) AS h2, min(CASE WHEN j=3 THEN hv END) AS h3,
             |    min(CASE WHEN j=4 THEN hv END) AS h4, min(CASE WHEN j=5 THEN hv END) AS h5,
             |    min(CASE WHEN j=6 THEN hv END) AS h6, min(CASE WHEN j=7 THEN hv END) AS h7
             |  FROM dens GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band,
             |    md5(h0::VARCHAR||','||h1::VARCHAR||','||h2::VARCHAR||','||h3::VARCHAR) AS key FROM sig
             |  UNION ALL
             |  SELECT doc_id, 1,
             |    md5(h4::VARCHAR||','||h5::VARCHAR||','||h6::VARCHAR||','||h7::VARCHAR) FROM sig),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
             |sm AS (SELECT c.id_a, c.id_b,
             |    CAST((sa.h0=sb.h0)::INT + (sa.h1=sb.h1)::INT + (sa.h2=sb.h2)::INT
             |       + (sa.h3=sb.h3)::INT + (sa.h4=sb.h4)::INT + (sa.h5=sb.h5)::INT
             |       + (sa.h6=sb.h6)::INT + (sa.h7=sb.h7)::INT AS INT) AS slot_matches
             |  FROM cand c JOIN sig sa ON c.id_a = sa.doc_id JOIN sig sb ON c.id_b = sb.doc_id),
             |sets AS (SELECT doc_id, list_distinct(list_transform(string_split(text,' '),
             |           tok -> ('0x'||substr(md5(tok),1,15))::BIGINT)) AS st FROM documents)
             |SELECT sm.id_a, sm.id_b, sm.slot_matches,
             |  round(len(list_intersect(sa.st, sb.st))::DOUBLE
             |        / len(list_distinct(sa.st || sb.st)), 6) AS jaccard
             |FROM sm JOIN sets sa ON sm.id_a = sa.doc_id JOIN sets sb ON sm.id_b = sb.doc_id
             |WHERE len(list_intersect(sa.st, sb.st))::DOUBLE
             |      / len(list_distinct(sa.st || sb.st)) >= 0.95
             |ORDER BY id_a, id_b""".stripMargin)),

    // ----- D12: asymmetric CONTAINMENT join (Broder 1997 containment;
    // prefix-filter candidate generation — Chaudhuri et al. ICDE 2006,
    // PPJoin family): the near-dup class Jaccard LSH structurally
    // MISSES — a short doc fully contained in a long one has Jaccard
    // ≈ |A|/|B| and its minhash signatures disagree almost everywhere,
    // yet it is exactly the quote/excerpt/wrapper duplication a
    // pretraining corpus is full of. Candidates: order the gram
    // universe by (docfreq, gram) rarest-first; each probe doc's
    // pigeonhole prefix (|A| − ⌈t·|A|⌉ + 1 rarest grams) equi-joins the
    // full inverted index — LOSSLESS for C(a→b) ≥ t, and join keys are
    // low-docfreq by construction so the skewed common grams never
    // enter the join. Verify: one merge-pass codegen intersect count
    // on candidates only; all thresholds exact integer permille. The
    // oracle replays census → prefix ranks → pigeonhole → candidates →
    // verify bit-for-bit.
    Q("d12_containment",
      (s, dir) => {
        import s.implicits._
        graft.dedup.Dedup.containmentPairs(
            t(s, dir, "documents"), "doc_id", "text", n = 3, tPermille = 900)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH sp AS (SELECT doc_id AS id, string_split(text, ' ') AS s FROM documents),
             |gr AS (SELECT id, list_sort(list_distinct(list_transform(range(len(s)-2),
             |         i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]||' '||s[i+3]),1,15))::BIGINT))) AS gs
             |       FROM sp),
             |gn AS (SELECT id, gs, len(gs) AS na FROM gr WHERE len(gs) > 0),
             |occ AS (SELECT id, unnest(gs) AS g FROM gn),
             |dfreq AS (SELECT g, count(*) AS df FROM occ GROUP BY 1),
             |pref AS (SELECT id AS id_a, g FROM (
             |           SELECT o.id, o.g, n.na,
             |             row_number() OVER (PARTITION BY o.id ORDER BY d.df, o.g) AS rn
             |           FROM occ o JOIN dfreq d USING (g) JOIN gn n USING (id))
             |         WHERE rn <= na - (na * 900 + 999) // 1000 + 1),
             |cand AS (SELECT DISTINCT p.id_a, o.id AS id_b
             |         FROM pref p JOIN occ o USING (g) WHERE p.id_a <> o.id),
             |ver AS (SELECT c.id_a, c.id_b, a.na AS n_a,
             |          len(list_intersect(a.gs, b.gs)) AS inter
             |        FROM cand c JOIN gn a ON a.id = c.id_a JOIN gn b ON b.id = c.id_b)
             |SELECT id_a, id_b, CAST(n_a AS BIGINT) AS n_a, CAST(inter AS BIGINT) AS inter,
             |  CAST((inter * 1000) // n_a AS BIGINT) AS cont_pm
             |FROM ver WHERE (inter * 1000) // n_a >= 900
             |ORDER BY id_a, id_b""".stripMargin)),

    // ----- X24: cross-corpus contamination MATRIX — the governance
    // census a production pipeline publishes (Dedup.contaminationMatrix):
    // x6 scored every train doc against ONE eval set; this reports the
    // full (train shard × eval suite) grid in one pass per side — which
    // shards are contaminated against which benchmarks, with zero-filled
    // cells so absent contamination is reported, not omitted. Train
    // shards = doc_id%4; suites = the x21-style deterministic slices
    // (doc_id%50 = 7 → suiteA, = 13 → suiteB), excluded from the train
    // side. Per cell: train docs, docs with >=1 shared 3-gram, docs over
    // the 50% contamination threshold (exact integer matched*100 >
    // 50*n_grams), total matched-gram volume. The eval gram table is the
    // broadcast side; post-join aggregates touch hit rows only.
    Q("x24_contamination_matrix",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val ev = docs.filter($"doc_id" % 50 === 7)
            .select(lit("suiteA").as("suite"), $"text")
          .unionByName(docs.filter($"doc_id" % 50 === 13)
            .select(lit("suiteB").as("suite"), $"text"))
        val train = docs.filter($"doc_id" % 50 =!= 7 && $"doc_id" % 50 =!= 13)
          .select($"doc_id", concat(lit("shard"), $"doc_id" % 4).as("shard"), $"text")
        graft.dedup.Dedup.contaminationMatrix(train, ev,
            "doc_id", "shard", "suite", "text", shingleN = 3, docThresholdPct = 50)
          .orderBy($"shard", $"suite")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
             |tr AS MATERIALIZED (SELECT doc_id, 'shard'||(doc_id%4)::VARCHAR AS shard,
             |         list_distinct(list_transform(range(len(tk)-2),
             |           i -> ('0x'||substr(md5(tk[i+1]||' '||tk[i+2]||' '||tk[i+3]),1,15))::BIGINT)) AS gs
             |       FROM d WHERE doc_id % 50 NOT IN (7, 13) AND len(tk) >= 3),
             |ev AS (SELECT 'suiteA' AS suite, tk FROM d WHERE doc_id % 50 = 7 AND len(tk) >= 3
             |       UNION ALL
             |       SELECT 'suiteB', tk FROM d WHERE doc_id % 50 = 13 AND len(tk) >= 3),
             |eg AS (SELECT DISTINCT suite, unnest(list_distinct(list_transform(range(len(tk)-2),
             |         i -> ('0x'||substr(md5(tk[i+1]||' '||tk[i+2]||' '||tk[i+3]),1,15))::BIGINT))) AS g
             |       FROM ev),
             |tg AS (SELECT doc_id, shard, unnest(gs) AS g FROM tr),
             |hits AS (SELECT t.doc_id, t.shard, e.suite, count(*) AS matched
             |         FROM tg t JOIN eg e USING (g) GROUP BY 1, 2, 3),
             |nd AS (SELECT doc_id, len(gs) AS n_grams FROM tr),
             |cell AS (SELECT h.shard, h.suite, count(*) AS n_hit_docs,
             |           sum(CASE WHEN h.matched*100 > 50*nd.n_grams THEN 1 ELSE 0 END) AS n_contaminated,
             |           sum(h.matched) AS matched_grams
             |         FROM hits h JOIN nd USING (doc_id) GROUP BY 1, 2),
             |grid AS (SELECT g.shard, s.suite, g.n_docs FROM
             |           (SELECT shard, count(*) AS n_docs FROM tr GROUP BY 1) g
             |         CROSS JOIN (SELECT DISTINCT suite FROM ev) s)
             |SELECT grid.shard, grid.suite, CAST(grid.n_docs AS BIGINT) AS n_docs,
             |  CAST(coalesce(cell.n_hit_docs, 0) AS BIGINT) AS n_hit_docs,
             |  CAST(coalesce(cell.n_contaminated, 0) AS BIGINT) AS n_contaminated,
             |  CAST(coalesce(cell.matched_grams, 0) AS BIGINT) AS matched_grams
             |FROM grid LEFT JOIN cell ON grid.shard = cell.shard AND grid.suite = cell.suite
             |ORDER BY 1, 2""".stripMargin)),

    // ----- S13: STREAMING ANN serving — the v14 index in deploy mode
    // (the ANN twin of s8's train-offline/score-online): the coarse
    // centroids, SQ8 grid, and encoded postings are built batch-side;
    // query embeddings arrive on a stream, are quantized + SQ8-encoded
    // map-side (pure projections off plan literals — no window, no
    // shuffle on the stream), routed to their cell by Ann.assign (the
    // L2 kernel's argmin over the centroid literal — a map-only
    // projection, so a stream needs no join per batch), and probe-1
    // equi-joined against the static postings on cid, so each
    // micro-batch touches ~batch x n/kCells candidates, never the corpus. The only streaming state is
    // one (d2c, nid) min-struct per query (complete mode). The oracle
    // replays coarse training -> assignment -> grid -> codes -> own-cell
    // scan -> (d2c, nid) nearest neighbor in exact integers.
    Q("s13_stream_ann",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        import graft.functions.GraftFunctions
        val batch = Ann.prepare(s.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding")
        val cents = Ann.kmeansCentroids(batch, 4, 1)
        val grid = Ann.sqParams(batch)
        val postings = Ann.sqEncode(
            Ann.assign(batch, cents).select(struct($"id", $"cid").as("id"), $"qv"), grid)
          .select($"id.id".as("nid"), $"id.cid".as("cid"),
            $"codes".as("ncodes"), $"ncode".as("nn"))
        val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
        val queryName = "graft_sann_" + java.util.UUID.randomUUID.toString.replace("-", "")
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val st = s.readStream.schema(schema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
          val prep = st.select($"vec_id".as("id"), Ann.quantize($"embedding").as("qv"))
            .filter($"id" % 50 === 0)
          val qcodes = Ann.sqEncode(
              Ann.assign(prep, cents).select(struct($"id", $"cid").as("id"), $"qv"), grid)
            .select($"id.id".as("qid"), $"id.cid".as("qcid"),
              $"codes".as("qcodes"), $"ncode".as("qn"))
          val d2c = $"qn" + $"nn" -
            lit(2L) * GraftFunctions.dot_long($"qcodes", $"ncodes")
          val q = qcodes.join(postings, $"qcid" === $"cid" && $"qid" =!= $"nid")
            .select($"qid", $"nid", d2c.as("d2c"))
            .groupBy($"qid")
            .agg(min(struct($"d2c", $"nid")).as("m"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        s.table(queryName)
          .select($"qid", $"m.nid".as("nid"), $"m.d2c".as("d2c"))
          .orderBy($"qid")
      },
      Some(coarseReplayPrefix +
        """px AS (SELECT q.id, d, qv[d+1] AS x FROM q CROSS JOIN dim),
          |grid AS (SELECT d, min(x) AS mn, max(x) AS mx FROM px GROUP BY d),
          |enc AS MATERIALIZED (SELECT px.id, px.d,
          |         CASE WHEN g.mx = g.mn THEN 0
          |              ELSE least(255, ((px.x - g.mn) * 255) // (g.mx - g.mn)) END AS code
          |       FROM px JOIN grid g USING (d)),
          |qq AS (SELECT id FROM q WHERE id % 50 = 0),
          |pd AS (SELECT qq.id AS qid, an.id AS nid,
          |         sum((qe.code - e.code) * (qe.code - e.code)) AS d2c
          |       FROM qq
          |       JOIN ac aq ON aq.id = qq.id
          |       JOIN ac an ON an.cid = aq.cid AND an.id <> qq.id
          |       JOIN enc e ON e.id = an.id
          |       JOIN enc qe ON qe.id = qq.id AND qe.d = e.d
          |       GROUP BY 1, 2),
          |rk AS (SELECT qid, nid, d2c,
          |         row_number() OVER (PARTITION BY qid ORDER BY d2c, nid) AS rk FROM pd)
          |SELECT qid, nid, CAST(d2c AS BIGINT) AS d2c
          |FROM rk WHERE rk = 1 ORDER BY qid""".stripMargin)),

    // ----- V15: binary (1-bit/dim) quantization + Hamming top-k — the
    // BOTTOM rung of the compression ladder (Ann.binaryEncode/binaryTopK;
    // Charikar 2002 sign codes): bit_d = [x_d > floor-mean pivot_d],
    // packed 32 bits per word (both-engine-exact — a 64-bit pack would
    // need the sign bit and DuckDB errors on BIGINT overflow), 32×
    // smaller scan state than the raw quantized vectors. The pivot table
    // is a dim-row census collected to plan literals, so encoding is one
    // map-side projection; distance is the codegen'd popcount kernel per
    // word; the per-query top-5 window is the only exchange. The oracle
    // replays pivots → bits → packed words → Hamming ranking bit-for-bit.
    Q("v15_binary_topk",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val codes = Ann.binaryEncode(prepared, Ann.binaryPivots(prepared))
        Ann.binaryTopK(codes, codes.filter($"id" % 50 === 0), k = 5)
          .orderBy($"qid", $"rk")
      },
      Some("""WITH q AS (SELECT vec_id AS id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |dims AS (SELECT CAST(i AS INT) AS d FROM range(0,64) t(i)),
             |px AS (SELECT q.id, d, qv[d+1] AS x FROM q CROSS JOIN dims),
             |pvt AS (SELECT d,
             |          (sum(x) - ((sum(x) % count(*)) + count(*)) % count(*)) // count(*) AS pv
             |        FROM px GROUP BY d),
             |bits AS (SELECT px.id, px.d, CASE WHEN px.x > pvt.pv THEN 1 ELSE 0 END AS b
             |         FROM px JOIN pvt USING (d)),
             |wrd AS MATERIALIZED (SELECT id, d // 32 AS w,
             |         sum(b * (1::BIGINT << (d % 32))) AS word
             |       FROM bits GROUP BY 1, 2),
             |qq AS (SELECT * FROM wrd WHERE id % 50 = 0),
             |hd AS (SELECT qq.id AS qid, e.id AS nid,
             |         sum(bit_count(xor(qq.word, e.word))) AS ham
             |       FROM qq JOIN wrd e ON qq.w = e.w AND qq.id <> e.id
             |       GROUP BY 1, 2),
             |rk AS (SELECT qid, nid, ham,
             |         row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rk FROM hd)
             |SELECT qid, CAST(rk AS INT) AS rk, nid, CAST(ham AS BIGINT) AS ham
             |FROM rk WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),

    // ----- V16: large-×-large semantic top-k JOIN (Ann.ivfSqJoin) —
    // the corpus-to-corpus retrieval shape (RETRO neighbor fetch,
    // cross-corpus semantic decontamination, kNN-LM datastore build)
    // where BOTH sides are data-scale: every other ANN query broadcasts
    // its query side; here the even-id half of the embeddings table is
    // the corpus and the ENTIRE odd-id half is the query side. Coarse
    // centroids + SQ8 grid are bounded models trained on the corpus;
    // corpus rows assign+encode map-only; query rows route to their 2
    // nearest cells via a literal-centroid argsort (no crossJoin, no
    // window) and encode in the same projection; the ONE large-large
    // exchange is the shuffled equi-join on cell id (pair volume =
    // the IVF candidate count, task granularity = one cell); per-query
    // top-3 window. Oracle replays training, grid (clamping exercised:
    // the grid is corpus-only, so query values can fall outside),
    // both encodes, routing, and ranking bit-for-bit.
    Q("v16_ann_join",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        Ann.ivfSqJoin(prepared.filter($"id" % 2 === 0),
            prepared.filter($"id" % 2 === 1),
            kCells = 4, coarseIters = 1, nProbes = 2, k = 3)
          .orderBy($"qid", $"rk")
      },
      Some("""WITH q AS (SELECT vec_id AS id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |dim AS (SELECT CAST(i AS INT) AS d FROM range(0,64) t(i)),
             |co AS (SELECT * FROM q WHERE id % 2 = 0),
             |qu AS (SELECT * FROM q WHERE id % 2 = 1),
             |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, qv AS cv
             |       FROM co ORDER BY id LIMIT 4),
             |e1 AS (SELECT co.id, c0.cid,
             |         sum((co.qv[d+1]-c0.cv[d+1])*(co.qv[d+1]-c0.cv[d+1])) AS d2
             |       FROM co CROSS JOIN c0 CROSS JOIN dim GROUP BY co.id, c0.cid),
             |a1 AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e1)
             |       WHERE rn = 1),
             |u1 AS (SELECT a1.cid, d,
             |         CAST(floor(CAST(sum(co.qv[d+1]) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS cv_d
             |       FROM a1 JOIN co USING (id) CROSS JOIN dim GROUP BY a1.cid, d),
             |c1 AS (SELECT cid, list(cv_d ORDER BY d) AS cv FROM u1 GROUP BY cid
             |       UNION ALL
             |       SELECT c0.cid, c0.cv FROM c0 WHERE c0.cid NOT IN (SELECT cid FROM u1)),
             |e2 AS (SELECT co.id, c1.cid,
             |         sum((co.qv[d+1]-c1.cv[d+1])*(co.qv[d+1]-c1.cv[d+1])) AS d2
             |       FROM co CROSS JOIN c1 CROSS JOIN dim GROUP BY co.id, c1.cid),
             |ac AS (SELECT id, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM e2)
             |       WHERE rn = 1),
             |px AS (SELECT co.id, d, qv[d+1] AS x FROM co CROSS JOIN dim),
             |grid AS (SELECT d, min(x) AS mn, max(x) AS mx FROM px GROUP BY d),
             |encc AS MATERIALIZED (SELECT px.id, px.d,
             |         CASE WHEN g.mx = g.mn THEN 0
             |              ELSE least(255, (greatest(0, px.x - g.mn) * 255) // (g.mx - g.mn)) END AS code
             |       FROM px JOIN grid g USING (d)),
             |qx AS (SELECT qu.id, d, qv[d+1] AS x FROM qu CROSS JOIN dim),
             |encq AS MATERIALIZED (SELECT qx.id, qx.d,
             |         CASE WHEN g.mx = g.mn THEN 0
             |              ELSE least(255, (greatest(0, qx.x - g.mn) * 255) // (g.mx - g.mn)) END AS code
             |       FROM qx JOIN grid g USING (d)),
             |pe AS (SELECT qu.id, c1.cid,
             |         sum((qu.qv[d+1]-c1.cv[d+1])*(qu.qv[d+1]-c1.cv[d+1])) AS d2
             |       FROM qu CROSS JOIN c1 CROSS JOIN dim GROUP BY qu.id, c1.cid),
             |pb AS (SELECT id AS qid, cid FROM (SELECT id, cid,
             |         row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM pe)
             |       WHERE rn <= 2),
             |pd AS (SELECT pb.qid, ac.id AS nid,
             |         sum((qe.code - e.code) * (qe.code - e.code)) AS d2c
             |       FROM pb JOIN ac ON ac.cid = pb.cid
             |       JOIN encc e ON e.id = ac.id
             |       JOIN encq qe ON qe.id = pb.qid AND qe.d = e.d
             |       GROUP BY 1, 2),
             |rk AS (SELECT qid, nid, d2c,
             |         row_number() OVER (PARTITION BY qid ORDER BY d2c, nid) AS rk FROM pd)
             |SELECT qid, CAST(rk AS INT) AS rk, nid, CAST(d2c AS BIGINT) AS d2c
             |FROM rk WHERE rk <= 3 ORDER BY qid, rk""".stripMargin)),

    // ----- M6: multimodal (binary-blob) NEAR-dup — the dedup family
    // applied to opaque blobs, closing the gap between m1-m5 (multimodal
    // plumbing) and d1-d11 (text dedup): a 16-bin byte histogram per
    // blob (m5's imperative kernel, full 16-dim vector) is a cheap
    // content descriptor; hyperplane-LSH blocking (v2's md5-parity
    // planes, 6 planes over dim 16) bounds the pair space exactly like
    // the text/embedding paths — no all-pairs anywhere — and candidates
    // verify by quantized cosine with the (cos DESC, nid) nearest
    // neighbor reported per probe blob. At 100 TB: histogram = one
    // narrow map stage, buckets = map-side projection, the only
    // quadratic work is within-bucket and the verify joins carry 16
    // longs per side. The oracle replays histogram → planes → buckets →
    // within-bucket cosine → top-1 bit-for-bit.
    Q("m6_blob_neardup",
      (s, dir) => {
        import s.implicits._
        import graft.functions.GraftFunctions
        val hist = t(s, dir, "documents")
          .select($"doc_id", $"text".cast("binary").as("blob"))
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            it.map { case (id, bytes) =>
              val h = new Array[Long](16)
              var i = 0
              while (i < bytes.length) { h((bytes(i) & 0xff) >> 4) += 1; i += 1 }
              (id, h.toSeq)
            }
          }.toDF("id", "qv")
          .withColumn("nq", GraftFunctions.dot_long($"qv", $"qv"))
        val planes = Queries.lshPlanes(6, 16)
        val bucket = (0 until 6).map { j =>
          when(GraftFunctions.dot_long($"qv", typedLit(planes(j))) > 0, 1L << j)
            .otherwise(0L)
        }.reduce(_ + _)
        // withB feeds BOTH join sides (probes + corpus) and its upstream
        // is the typed mapPartitions histogram pass (DeserializeToObject
        // — the expensive per-row boundary); materialize once so the
        // blob scan + histogram runs once, not twice (guide §5)
        val withB = hist.withColumn("bucket", bucket).localCheckpoint(true)
        val probes = withB.filter($"id" % 10 === 0)
          .select($"id".as("qid"), $"bucket", $"qv".as("qqv"), $"nq".as("qn"))
        val cos = round(
          GraftFunctions.dot_long($"qqv", $"nv").cast("double") /
            (sqrt($"qn".cast("double")) * sqrt($"nn".cast("double"))), 6)
        val pairs = probes.join(
            withB.select($"id".as("nid"), $"bucket", $"qv".as("nv"), $"nq".as("nn")),
            Seq("bucket"))
          .filter($"qid" =!= $"nid")
          .select($"qid", $"nid", cos.as("cos"))
        val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
        pairs.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
          .select($"qid", $"nid", $"cos")
          .orderBy($"qid")
      },
      Some("""WITH bts AS (SELECT doc_id, CAST(ord(text[i+1])//16 AS INT) AS bin
             |      FROM (SELECT doc_id, text, CAST(unnest(range(0, len(text))) AS INT) AS i
             |            FROM documents)),
             |hist0 AS (SELECT doc_id, bin, count(*) AS c FROM bts GROUP BY 1, 2),
             |grid AS (SELECT d.doc_id, g.bin FROM (SELECT DISTINCT doc_id FROM documents) d
             |         CROSS JOIN (SELECT CAST(unnest(range(16)) AS INT) AS bin) g),
             |hist AS MATERIALIZED (SELECT g.doc_id, g.bin, coalesce(h.c, 0) AS c
             |       FROM grid g LEFT JOIN hist0 h ON g.doc_id = h.doc_id AND g.bin = h.bin),
             |planes AS (SELECT j, i,
             |    CASE WHEN ('0x'||substr(md5(j||'_'||i),1,2))::INT % 2 = 0 THEN 1 ELSE -1 END AS sgn
             |  FROM range(0,6) t(j) CROSS JOIN range(0,16) u(i)),
             |proj AS (SELECT doc_id, j, sum(c * sgn) AS p
             |         FROM hist JOIN planes ON hist.bin = planes.i GROUP BY 1, 2),
             |bk AS MATERIALIZED (SELECT doc_id,
             |        CAST(sum(CASE WHEN p > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
             |      FROM proj GROUP BY 1),
             |nrm AS (SELECT doc_id, sum(c*c) AS nq FROM hist GROUP BY 1),
             |dots AS (SELECT a.doc_id AS qid, b.doc_id AS nid, sum(ha.c * hb.c) AS dp
             |         FROM bk a JOIN bk b ON a.bucket = b.bucket
             |           AND a.doc_id % 10 = 0 AND a.doc_id <> b.doc_id
             |         JOIN hist ha ON ha.doc_id = a.doc_id
             |         JOIN hist hb ON hb.doc_id = b.doc_id AND ha.bin = hb.bin
             |         GROUP BY 1, 2),
             |cs AS (SELECT qid, nid,
             |         round(dp / (sqrt(na.nq) * sqrt(nb.nq)), 6) AS cos
             |       FROM dots JOIN nrm na ON qid = na.doc_id JOIN nrm nb ON nid = nb.doc_id),
             |rk AS (SELECT qid, nid, cos,
             |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM cs)
             |SELECT qid, nid, cos FROM rk WHERE rk = 1 ORDER BY qid""".stripMargin)),

    // ----- V17: signed-permutation PRETRANSFORM (the FAISS OPQ /
    // RandomRotation slot, integer-exact form): an orthogonal signed
    // permutation derived from md5(seed|d) — preserves every dot
    // product and L2 distance EXACTLY in integers (a float rotation
    // would re-quantize), while decorrelating the contiguous subspace
    // slicing PQ/SQ rely on and killing per-dim sign bias. One map-side
    // projection. The declared query runs brute-force top-5 THROUGH the
    // transform: the oracle replays permutation ranks, sign parities,
    // and the cosine ranking bit-for-bit, and exact invariance vs the
    // untransformed ranking is pinned in RecallSpec.
    Q("v17_rotation",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val rot = Ann.signedPermute(prepared, dim = 64, seed = "graft-rr")
        Ann.bruteForceKnn(rot, rot.filter($"id" < 5), 5)
          .orderBy($"qid", $"rk")
      },
      Some("""WITH q AS (SELECT vec_id AS id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |dim AS (SELECT CAST(i AS INT) AS d FROM range(0,64) t(i)),
             |perm AS (SELECT row_number() OVER (ORDER BY md5('graft-rr|'||CAST(d AS VARCHAR)), d) - 1 AS outd,
             |                d AS src
             |         FROM dim),
             |sgn AS (SELECT d AS outd,
             |          CASE WHEN ord(substr(md5('graft-rr|s|'||CAST(d AS VARCHAR)),1,1)) % 2 = 1
             |               THEN -1 ELSE 1 END AS s
             |        FROM dim),
             |rot AS (SELECT q.id, list(q.qv[p.src+1] * g.s ORDER BY p.outd) AS qv
             |        FROM q CROSS JOIN perm p JOIN sgn g ON g.outd = p.outd
             |        GROUP BY q.id),
             |n AS (SELECT id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM rot),
             |pairs AS (
             |  SELECT a.id AS qid, b.id AS nid,
             |    round(list_sum(list_transform(list_zip(a.qv,b.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(a.nq::DOUBLE) * sqrt(b.nq::DOUBLE)), 6) AS cos
             |  FROM n a, n b WHERE a.id < 5 AND b.id != a.id)
             |SELECT qid, rk, nid, cos FROM (
             |  SELECT qid, nid, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
             |  FROM pairs)
             |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),

    // ----- M7: PERCEPTUAL near-dup (dHash, Krawetz) — m6 deduped blobs
    // by byte distribution; this is the image-content form: a REAL
    // ImageIO decode (zlib inflate + PNG defilter, the m2 path), a
    // deterministic 9×8 nearest-neighbor downsample, and the classic
    // 64-bit difference hash (bit = right neighbor brighter), packed 32
    // bits/word (v15's both-engine-exact discipline). Blocking is
    // SimHash-style banding of the 64 bits (4×16-bit keys, equi-join —
    // no all-pairs); verify is the codegen popcount over both words.
    // The oracle recomputes sampling grid → bits → words → bands →
    // Hamming from the original text (documents are ASCII so
    // ord(char) == decoded byte — the m2/m4 contract), hash-gating the
    // whole binary→PNG→ImageIO→fingerprint pipeline.
    Q("m7_phash_neardup",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{ImageCodec, PngFixtureCache}
        import graft.functions.GraftFunctions
        val words = PngFixtureCache.pngTable(s, dir)
          .select($"doc_id", $"png_32")
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            it.map { case (id, png) =>
              val (w, h, px) = ImageCodec.decodeGrayPng(png)
              val (w0, w1) = ImageCodec.dHash64(w, h, px)
              (id, w0, w1)
            }
          }.toDF("id", "w0", "w1")
        val bands = words.select($"id", posexplode(array(
            $"w0" % 65536, $"w0" / 65536 cast "long",
            $"w1" % 65536, $"w1" / 65536 cast "long")).as(Seq("j", "key")))
        val cand = bands.as("a").join(bands.as("b"),
            $"a.j" === $"b.j" && $"a.key" === $"b.key" && $"a.id" < $"b.id")
          .select($"a.id".as("id_a"), $"b.id".as("id_b")).distinct()
        val ham = (GraftFunctions.hamming_dist($"wa.w0", $"wb.w0") +
          GraftFunctions.hamming_dist($"wa.w1", $"wb.w1")).cast("int")
        cand.join(words.as("wa"), $"id_a" === $"wa.id")
          .join(words.as("wb"), $"id_b" === $"wb.id")
          .select($"id_a", $"id_b", ham.as("ham"))
          .filter($"ham" <= 6)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n,
             |         greatest((octet_length(encode(text)) + 31) // 32, 1) AS h
             |       FROM documents),
             |grid AS (SELECT r, c FROM range(8) t1(r), range(9) t2(c)),
             |g AS (SELECT d.doc_id, grid.r, grid.c,
             |        CASE WHEN ((grid.r*d.h)//8)*32 + (grid.c*32)//9 < d.n
             |             THEN ord(d.text[((grid.r*d.h)//8)*32 + (grid.c*32)//9 + 1])
             |             ELSE 0 END AS v
             |      FROM d CROSS JOIN grid),
             |bits AS (SELECT a.doc_id, a.r*8 + a.c AS k,
             |           CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
             |         FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
             |         WHERE a.c < 8),
             |words AS (SELECT doc_id,
             |    CAST(sum(CASE WHEN k < 32 THEN CAST(bit AS BIGINT) << k ELSE 0 END) AS BIGINT) AS w0,
             |    CAST(sum(CASE WHEN k >= 32 THEN CAST(bit AS BIGINT) << (k-32) ELSE 0 END) AS BIGINT) AS w1
             |  FROM bits GROUP BY 1),
             |bands AS (SELECT doc_id, j.j,
             |    CASE j.j WHEN 0 THEN w0 % 65536 WHEN 1 THEN w0 // 65536
             |             WHEN 2 THEN w1 % 65536 ELSE w1 // 65536 END AS key
             |  FROM words CROSS JOIN (SELECT unnest(range(4)) AS j) j),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |         FROM bands a JOIN bands b
             |           ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
             |ver AS (SELECT c.id_a, c.id_b,
             |          bit_count(xor(wa.w0, wb.w0)) + bit_count(xor(wa.w1, wb.w1)) AS ham
             |        FROM cand c JOIN words wa ON wa.doc_id = c.id_a
             |        JOIN words wb ON wb.doc_id = c.id_b)
             |SELECT id_a, id_b, CAST(ham AS INT) AS ham
             |FROM ver WHERE ham <= 6 ORDER BY id_a, id_b""".stripMargin)),

    // ----- S14: streaming heavy hitters — count-min as BOUNDED stream
    // state (the k4/k6 sketch meeting the streaming family, s10's HLL
    // discipline for frequencies): exact per-key counting over an
    // unbounded stream needs unbounded state, but the d×w counter
    // matrix is a streaming aggregation with ≤ 256 state rows no matter
    // the stream volume — count merges are order/batch-invariant, so
    // the final streamed counters are bit-equal to a batch sketch of
    // the same rows (what the oracle replays). Candidates + the exact
    // lossless second pass (k6's over-count guarantee) attach batch-
    // side on the sink; the threshold is 8‰ of the stream, so the gate
    // scales with sf instead of pinning an absolute count.
    Q("s14_stream_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.CountMin
        val schema = s.read.parquet(s"$dir/events.parquet").schema
        val queryName = "graft_scm_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = CountMin.table(stream.select($"user_id"), $"user_id", d = 4, w = 64)
            .writeStream.outputMode("complete")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        val cm = s.table(queryName)
        val ev = t(s, dir, "events")
        val tot = ev.agg(floor(count(lit(1)) * lit(8) / lit(1000)).cast("long").as("th"))
        val users = ev.select($"user_id").distinct()
        CountMin.estimate(cm, users, $"user_id", d = 4, w = 64)
          .crossJoin(broadcast(tot))
          .filter($"est" >= $"th")
          .join(ev.groupBy($"user_id".cast("string").as("value"))
                  .agg(count(lit(1)).as("exact")), Seq("value"))
          .filter($"exact" >= $"th")
          .select($"value", $"exact", $"est")
          .orderBy($"value")
      },
      Some("""WITH rb AS (SELECT r.j AS rw,
             |         ('0x'||substr(md5(r.j::VARCHAR||'|'||user_id::VARCHAR),1,15))::BIGINT % 64 AS bucket
             |       FROM events CROSS JOIN (SELECT unnest(range(4)) AS j) r),
             |cm AS MATERIALIZED (SELECT rw, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
             |th AS (SELECT (count(*) * 8) // 1000 AS th FROM events),
             |us AS (SELECT DISTINCT user_id::VARCHAR AS value FROM events),
             |pb AS (SELECT value, r.j AS rw,
             |         ('0x'||substr(md5(r.j::VARCHAR||'|'||value),1,15))::BIGINT % 64 AS bucket
             |       FROM us CROSS JOIN (SELECT unnest(range(4)) AS j) r),
             |est AS (SELECT pb.value, min(coalesce(cm.cnt, 0)) AS est
             |        FROM pb LEFT JOIN cm USING (rw, bucket) GROUP BY 1),
             |ex AS (SELECT user_id::VARCHAR AS value, count(*) AS exact FROM events GROUP BY 1)
             |SELECT est.value, CAST(ex.exact AS BIGINT) AS exact, CAST(est.est AS BIGINT) AS est
             |FROM est JOIN ex USING (value) CROSS JOIN th
             |WHERE est.est >= th.th AND ex.exact >= th.th
             |ORDER BY est.value""".stripMargin)),

    // ----- X25: Z-order layout compaction census (ops.ZOrder — the
    // Delta/Iceberg OPTIMIZE ZORDER physical-design shape, Morton 1966):
    // interleave the bits of (user_id, event-minute) so rows close in
    // BOTH dimensions land close in the 1-D sort — the property per-file
    // min-max stats need to prune 2-D box predicates at 100 TB (a
    // lexicographic sort prunes only its leading column; ZOrderSpec
    // measures the pruning advantage directly). The census groups the
    // corpus by z-prefix (z div 2^20 — the "file" granularity) and
    // reports each bucket's (user, minute) bounding box: z-contiguous
    // buckets must cover SMALL boxes on both dimensions at once, and the
    // oracle replays the bit-interleave and the boxes exactly.
    Q("x25_zorder",
      (s, dir) => {
        import s.implicits._
        import graft.ops.ZOrder
        val e = t(s, dir, "events")
          .withColumn("u", pmod($"user_id", lit(65536L)))
          .withColumn("m", pmod(expr("unix_micros(ts) div 60000000"), lit(65536L)))
        e.withColumn("z", ZOrder.zValue2($"u", $"m", bits = 16))
          .groupBy(expr("z div 1048576").as("zb"))
          .agg(count(lit(1)).as("n"),
            min($"u").as("u_min"), max($"u").as("u_max"),
            min($"m").as("m_min"), max($"m").as("m_max"))
          .orderBy($"zb")
      },
      Some("""WITH e AS (SELECT user_id % 65536 AS u,
             |         (epoch_us(ts) // 60000000) % 65536 AS m
             |       FROM events),
             |z AS (SELECT u, m,
             |        (((u >> 0) & 1) * 1 + ((m >> 0) & 1) * 2
             |       + ((u >> 1) & 1) * 4 + ((m >> 1) & 1) * 8
             |       + ((u >> 2) & 1) * 16 + ((m >> 2) & 1) * 32
             |       + ((u >> 3) & 1) * 64 + ((m >> 3) & 1) * 128
             |       + ((u >> 4) & 1) * 256 + ((m >> 4) & 1) * 512
             |       + ((u >> 5) & 1) * 1024 + ((m >> 5) & 1) * 2048
             |       + ((u >> 6) & 1) * 4096 + ((m >> 6) & 1) * 8192
             |       + ((u >> 7) & 1) * 16384 + ((m >> 7) & 1) * 32768
             |       + ((u >> 8) & 1) * 65536 + ((m >> 8) & 1) * 131072
             |       + ((u >> 9) & 1) * 262144 + ((m >> 9) & 1) * 524288
             |       + ((u >> 10) & 1) * 1048576 + ((m >> 10) & 1) * 2097152
             |       + ((u >> 11) & 1) * 4194304 + ((m >> 11) & 1) * 8388608
             |       + ((u >> 12) & 1) * 16777216 + ((m >> 12) & 1) * 33554432
             |       + ((u >> 13) & 1) * 67108864 + ((m >> 13) & 1) * 134217728
             |       + ((u >> 14) & 1) * 268435456 + ((m >> 14) & 1) * 536870912
             |       + ((u >> 15) & 1) * 1073741824 + ((m >> 15) & 1) * 2147483648) AS zv
             |      FROM e)
             |SELECT zv // 1048576 AS zb, count(*) AS n,
             |  CAST(min(u) AS BIGINT) AS u_min, CAST(max(u) AS BIGINT) AS u_max,
             |  CAST(min(m) AS BIGINT) AS m_min, CAST(max(m) AS BIGINT) AS m_max
             |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T18: memorization-risk census — the corpus-level statistic
    // behind "Deduplicating Training Data Makes Language Models Better"
    // (Lee et al. 2022) and memorization audits: the share of long
    // (8-token) grams that are DOCUMENT-UNIQUE (docfreq = 1, the
    // memorizable long tail) vs repeated across documents (the dup mass
    // the d-operators remove). Per language: docs with >= 8 tokens,
    // total distinct grams, unique grams, and the integer permille —
    // exactly the number a dedup pass moves, so it doubles as the
    // before/after meter for d1/d2/x5. Scale shape: the gram census is
    // map-side combined (key space = distinct grams, not occurrences),
    // docfreq=1 filtering happens ON the census (no second corpus
    // pass), and the per-doc rollup joins grams to the census by the
    // 8-byte hash — the t5/d8 discipline at 8-gram granularity.
    Q("t18_memorization_census",
      (s, dir) => {
        import s.implicits._
        val grams = t(s, dir, "documents")
          .filter(size(split($"text", " ")) >= 8)
          .select($"doc_id", $"lang",
            explode(graft.dedup.Dedup.shingles($"text", 8)).as("g"))
        val census = grams.groupBy($"g")
          .agg(countDistinct($"doc_id").as("df"))
        val perDoc = grams.join(census, Seq("g"))
          .groupBy($"doc_id", $"lang")
          .agg(count(lit(1)).as("n8"),
               sum(when($"df" === 1, 1L).otherwise(0L)).as("n_unique"))
        perDoc.groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
               sum($"n8").as("grams"),
               sum($"n_unique").as("unique_grams"),
               expr("(sum(n_unique) * 1000) div sum(n8)").as("permille_unique"))
          .orderBy($"lang")
      },
      Some("""WITH d AS (SELECT doc_id, lang, string_split(text,' ') AS tk FROM documents
             |        WHERE len(string_split(text,' ')) >= 8),
             |g AS (SELECT doc_id, lang, unnest(list_distinct(list_transform(range(len(tk)-7),
             |        i -> ('0x'||substr(md5(tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4]
             |              ||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7]||' '||tk[i+8]),1,15))::BIGINT))) AS gh
             |      FROM d),
             |census AS (SELECT gh, count(DISTINCT doc_id) AS df FROM g GROUP BY 1),
             |pd AS (SELECT g.doc_id, g.lang, count(*) AS n8,
             |         sum(CASE WHEN c.df = 1 THEN 1 ELSE 0 END) AS n_unique
             |       FROM g JOIN census c USING (gh) GROUP BY 1, 2)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n8) AS BIGINT) AS grams,
             |  CAST(sum(n_unique) AS BIGINT) AS unique_grams,
             |  CAST(sum(n_unique) * 1000 // sum(n8) AS BIGINT) AS permille_unique
             |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T19: Unigram-LM tokenizer TRAINING (Kudo 2018 — the
    // SentencePiece default algorithm) in the hard-EM (Viterbi) form
    // whose every step is integer arithmetic: one corpus pass to the
    // word census (the Bpe discipline — the corpus is never re-scanned),
    // occurrence-weighted substring seeding (top-12 multi-char pieces +
    // all chars for coverage), add-one-smoothed micro-nat costs, one
    // Viterbi E-step per distinct word ((score, j) tiebreak = longest
    // final piece), and M-step re-estimation. Completes the tokenizer
    // family: BPE (t11 distributed, t12 local) + Unigram. The oracle
    // unrolls the DP as 8 position stages + 8 backtrack hops
    // (bpeTrainOracle8's generation pattern) and replays seed, costs,
    // paths, counts, and re-estimated costs bit-for-bit.
    Q("t19_unigram_lm",
      (s, dir) => {
        import s.implicits._
        graft.text.Unigram.train(t(s, dir, "documents"), "text",
            topMulti = 12, maxPieceLen = 4, iters = 1)
          .orderBy($"piece")
      },
      Some(unigramOracle)),

    // ----- T24: Unigram training, the NO-CEILING trainer
    // (Unigram.trainDistributed — t19's EM with the word table never
    // collected: distributed substring census for the seed, |V|-row
    // cost broadcast + map-side Viterbi + census-sized M-step per
    // iteration, one Spark job each). This is the escape hatch
    // Unigram.train's language-bounded guard points at; bit-identical
    // to train by construction (UnigramSpec pins multi-iter parity), so
    // it shares t19's independently-unrolled SQL oracle — the replay
    // gates BOTH trainers.
    Q("t24_unigram_distributed",
      (s, dir) => {
        import s.implicits._
        graft.text.Unigram.trainDistributed(t(s, dir, "documents"), "text",
            topMulti = 12, maxPieceLen = 4, iters = 1)
          .orderBy($"piece")
      },
      Some(unigramOracle))
  )

  private lazy val roundTen: Seq[Q] = Seq(
    // ----- R11: DSv2 RUNTIME filtering (SupportsRuntimeFiltering — DPP
    // for tile IO). The serving-path shape: the band list to read is
    // COMPUTED (a filtered dim), so no static pushdown can prune the
    // scan; at execution Spark evaluates the dim side first and hands
    // the surviving IN-set to the source, which drops the pruned READS
    // from the work-list before any pixel IO (partition shells survive
    // so the scan's KeyGroupedPartitioning stays truthful — asserted in
    // TileSourceV2Spec along with the read-counter proof that nir/green
    // tiles are never opened when the dim keeps red alone). Here the dim
    // keeps {red, nir} of 3 bands; per-(band, chunk) tile counts and
    // pixel-size sums replay from the 10-scene fixture geometry.
    Q("r11_dsv2_runtime",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds}
        import graft.stac.{Prepare, PrepareOptions, StacAsset, StacItem}
        val items = (0 until 10).map { i =>
          val off = (i % 3) * 1280.0
          StacItem(s"scene-$i", Some(f"2024-06-${i + 1}%02dT10:00:00Z"), epsg = Some(32633),
            assets = Seq("red", "green", "nir").map { band =>
              band -> StacAsset(s"fake://$band/$i",
                bbox = Some(Bounds(399960 + off, 4990200 - off, 399960 + off + 2560, 4990200 - off + 2560)),
                shape = Some((256, 256)),
                transform = Some(AffineTransform.northUp(399960 + off, 4990200 - off + 2560, 10.0, 10.0)))
            }.toMap)
        }
        val plan = Prepare(items, PrepareOptions(assets = Some(Seq("red", "green", "nir"))))
        val tiles = graft.scan.v2.TileSourceV2.scan(s, plan.assetTable, plan.spec, chunk = 256)
        val dim = Seq(("red", 1), ("nir", 1), ("green", 0)).toDF("b", "keep")
        val sel = dim.filter($"keep" === 1)
        tiles.join(sel, tiles("band") === sel("b"))
          .groupBy($"band", $"yChunk", $"xChunk")
          .agg(count(lit(1)).as("n_tiles"), sum(size($"pixels")).as("px_sum"))
          .orderBy($"band", $"yChunk", $"xChunk")
      },
      Some("""WITH sc AS (SELECT CAST(i AS INT) AS i, (i % 3) * 128 AS o FROM range(0,10) t(i)),
             |px AS (SELECT r, c FROM range(0,512) t(r) CROSS JOIN range(0,512) u(c)),
             |hits AS (SELECT s.i, r, c FROM px JOIN sc s
             |         ON r >= s.o AND r < s.o+256 AND c >= s.o AND c < s.o+256),
             |ch AS (SELECT CAST(r//256 AS INT) AS yc, CAST(c//256 AS INT) AS xc,
             |              CAST(count(*) AS BIGINT) AS px_sum,
             |              CAST(count(DISTINCT i) AS BIGINT) AS n_tiles
             |       FROM hits GROUP BY 1, 2),
             |b AS (SELECT unnest(['nir','red']) AS band)
             |SELECT b.band AS band, yc AS "yChunk", xc AS "xChunk", n_tiles, px_sum
             |FROM ch CROSS JOIN b ORDER BY 1, 2, 3""".stripMargin)),

    // ----- K8: AMS F2 sketch (Alon-Matias-Szegedy 1996) — the second
    // frequency moment (self-join size / skew concentration) of the
    // token distribution from d=9 integer counters TOTAL. The sketch is
    // one map-side-combined groupBy(j).sum(sign) — the shuffle carries
    // 9 longs at any corpus size — and the committed estimate is the
    // deterministic median of the 9 squares ((z², j) tiebreak). Beside
    // KMV/HLL ("how many distinct") and count-min ("how often is v"),
    // this answers "how CONCENTRATED is the whole distribution" — the
    // planner's skew statistic. Exact F2 alongside for the error gate;
    // the oracle replays signs, counters, squares, median, and exact.
    Q("k8_ams_f2",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.Ams
        val toks = t(s, dir, "documents")
          .select(explode(split($"text", " ")).as("tok"))
        val exact = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
          .agg(sum($"c" * $"c").as("exact"))
        Ams.f2Estimate(Ams.f2Sketch(toks, $"tok", d = 9), d = 9)
          .crossJoin(exact) // 1-row × 1-row
          .select($"est".cast("long").as("est"), $"exact".cast("long").as("exact"))
      },
      Some("""WITH toks AS (SELECT unnest(string_split(text,' ')) AS tok FROM documents),
             |hs AS (SELECT ('0x'||substr(md5(tok),1,15))::BIGINT AS h FROM toks),
             |sgn AS (SELECT r.j AS j, 1 - 2*((h >> r.j) & 1) AS s
             |        FROM hs CROSS JOIN (SELECT CAST(unnest(range(9)) AS INT) AS j) r),
             |z AS (SELECT j, sum(s) AS z FROM sgn GROUP BY 1),
             |z2 AS (SELECT j, z*z AS z2 FROM z),
             |med AS (SELECT z2 FROM (SELECT z2, row_number() OVER (ORDER BY z2, j) AS rn
             |                        FROM z2) WHERE rn = 5),
             |ex AS (SELECT sum(c*c) AS exact FROM (SELECT count(*) AS c FROM toks GROUP BY tok))
             |SELECT CAST(med.z2 AS BIGINT) AS est, CAST(ex.exact AS BIGINT) AS exact
             |FROM med CROSS JOIN ex""".stripMargin)),

    // ----- W7: gap fill / densify — resample the sparse per-type event
    // stream onto the complete daily grid, carrying the last observation
    // forward through the holes (the step every temporal model assumes).
    // Grid bounds are a 1-row global fold (a literal crossJoin, not a
    // join); the grid is keys × buckets rows (census-sized); the fill is
    // ONE window pass per key (`last ignoreNulls` over
    // unbounded-preceding) — single-value state per key. Values are
    // per-row-quantized integers before summing, so both engines agree
    // bit-for-bit. `filled` 0=observed / 1=carried / 2=before-first.
    Q("w7_gap_fill",
      (s, dir) => {
        import s.implicits._
        val obs = t(s, dir, "events")
          .groupBy($"event_type", expr("unix_timestamp(ts) div 86400").as("day"))
          .agg(sum(quant($"value", 100)).as("cents"))
        graft.ops.GapFill.forwardFill(obs, "event_type", "day", "cents")
          .orderBy($"event_type", $"day")
      },
      Some("""WITH obs AS (SELECT event_type, epoch(ts)::BIGINT // 86400 AS day,
             |          sum(CAST(floor(value*100+0.5) AS BIGINT)) AS cents
             |        FROM events GROUP BY 1, 2),
             |b AS (SELECT min(day) AS lo, max(day) AS hi FROM obs),
             |grid AS (SELECT k.event_type, CAST(unnest(range(b.lo, b.hi + 1)) AS BIGINT) AS day
             |         FROM (SELECT DISTINCT event_type FROM obs) k CROSS JOIN b),
             |j AS (SELECT g.event_type, g.day, o.cents FROM grid g
             |      LEFT JOIN obs o ON g.event_type = o.event_type AND g.day = o.day)
             |SELECT event_type, day,
             |  CAST(last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS v,
             |  CASE WHEN cents IS NOT NULL THEN 0
             |       WHEN last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NOT NULL THEN 1
             |       ELSE 2 END AS filled
             |FROM j ORDER BY event_type, day""".stripMargin)),

    // ----- J9: spatial radius join via integer grid-cell blocking — the
    // planar member of the no-all-pairs family (LSH bands, IVF cells,
    // j8's interval buckets). Deterministic integer coordinates are
    // hash-derived per key; candidate pairs come from an EQUI-join on
    // grid cells (probe side ×9 neighbor replication — constant, never
    // data-dependent), then the exact integer L2² predicate verifies.
    // The ORACLE is the quadratic ALL-PAIRS definition — a hash-join
    // blocking scheme gated against exhaustive ground truth proves the
    // 3×3 neighborhood loses no true pair. Shuffle volume 9·|A| + |B|;
    // per-cell work bounded by spatial density, not corpus size.
    Q("j9_spatial_join",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.Kmv
        def coord(key: Column, axis: String): Column =
          pmod(Kmv.hash60(concat(key.cast("string"), lit(axis))), lit(1024L))
        val cust = t(s, dir, "customer").select($"c_custkey".as("a_id"),
          coord($"c_custkey", "x").as("x"), coord($"c_custkey", "y").as("y"))
        val supp = t(s, dir, "supplier").select($"s_suppkey".as("id"),
          coord($"s_suppkey", "x").as("x"), coord($"s_suppkey", "y").as("y"))
        graft.ops.SpatialJoin.radiusJoin(cust, supp, cellSize = 32L, r2 = 1024L)
          .select($"a_id".as("c_custkey"), $"b_id".as("s_suppkey"), $"d2")
          .orderBy($"c_custkey", $"s_suppkey")
      },
      Some("""WITH c AS (SELECT c_custkey,
             |    ('0x'||substr(md5(c_custkey::VARCHAR||'x'),1,15))::BIGINT % 1024 AS x,
             |    ('0x'||substr(md5(c_custkey::VARCHAR||'y'),1,15))::BIGINT % 1024 AS y
             |  FROM customer),
             |s AS (SELECT s_suppkey,
             |    ('0x'||substr(md5(s_suppkey::VARCHAR||'x'),1,15))::BIGINT % 1024 AS x,
             |    ('0x'||substr(md5(s_suppkey::VARCHAR||'y'),1,15))::BIGINT % 1024 AS y
             |  FROM supplier)
             |SELECT c.c_custkey, s.s_suppkey,
             |  CAST((c.x-s.x)*(c.x-s.x) + (c.y-s.y)*(c.y-s.y) AS BIGINT) AS d2
             |FROM c CROSS JOIN s
             |WHERE (c.x-s.x)*(c.x-s.x) + (c.y-s.y)*(c.y-s.y) <= 1024
             |ORDER BY 1, 2""".stripMargin)),

    // ----- T20: unigram-LM TOKENIZE — the apply half of t19 (train →
    // segment, the SentencePiece usage pattern). The |V|-row trained
    // model is broadcast and segmentation is map-side Viterbi per word
    // (join-free, the Bpe.segment discipline); per-document piece
    // counts are the packing/budgeting currency every downstream
    // sampler (x19/x22) spends. The oracle replays BOTH DP rounds:
    // train under k0 → re-estimated costs k1 → a second unrolled
    // Viterbi under k1 → per-word piece counts joined back onto the
    // documents.
    Q("t20_unigram_tokenize",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val model = graft.text.Unigram.train(docs, "text",
          topMulti = 12, maxPieceLen = 4, iters = 1)
        graft.text.Unigram.segmentCounts(docs, "text", model, maxPieceLen = 4)
          .select($"doc_id", $"n_pieces".cast("long").as("n_pieces"))
          .orderBy($"doc_id")
      },
      Some(unigramTokenizeOracle)),

    // ----- V19: FILTERED ANN (hybrid search) — "vector top-k + WHERE
    // clause", the feature every production vector store ships (FAISS
    // IDSelector, Milvus/pgvector scalar filtering). Semantics are
    // PRE-filter: the label predicate restricts the candidate set
    // BEFORE ranking (a post-filter of unfiltered top-k under-fills
    // whenever the filter is selective — the classic hybrid-search
    // bug). The attribute rides as an ordinary postings COLUMN
    // (index-as-tables: one build-time equi-join attaches it), so with
    // parquet-persisted artifacts the predicate pushes into the file
    // scan and data skipping prunes row groups before the probe join.
    // Oracle = the v14 chain with the label join spliced into the
    // candidate step.
    Q("v19_filtered_ann",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val idx = Ann.ivfSqBuild(prepared, kCells = 4, coarseIters = 1)
        // attributes become postings columns (the index-as-tables way)
        val labels = t(s, dir, "embeddings").select($"vec_id".as("id"), $"label")
        val withAttrs = idx.copy(postings = idx.postings.join(labels, Seq("id")))
        Ann.ivfSqServeWhere(withAttrs, prepared.filter($"id" % 50 === 0),
            nProbes = 2, k = 5, pred = $"label" === 3)
          .orderBy($"qid", $"rk")
      },
      Some(ivfSqFilteredOracle)),

    // ----- V20: index-quality census — the MONITORING third of index
    // operation (build v14/v18, serve s13, watch THIS): per coarse
    // cell, population and inertia (Σ integer d2 to the assigned
    // centroid) from one map-side pass ending in a kCells-row
    // aggregate. Cell balance decides serve-time task granularity (a
    // hot cell is a hot partition — g2's skew loop applied to vectors);
    // inertia drift is the re-train trigger. The oracle reuses the
    // coarse-replay prefix: assigned distances are e2 rows matching the
    // final assignment.
    Q("v20_index_stats",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val cents = Ann.kmeansCentroids(prepared, k = 4, iters = 1)
        Ann.indexStats(prepared, cents).orderBy($"cid")
      },
      Some(coarseReplayPrefix +
        """st AS (SELECT ac.cid, count(*) AS n_points, sum(e2.d2) AS inertia
          |       FROM ac JOIN e2 ON e2.id = ac.id AND e2.cid = ac.cid
          |       GROUP BY 1)
          |SELECT cid, CAST(n_points AS BIGINT) AS n_points,
          |  CAST(inertia AS BIGINT) AS inertia
          |FROM st ORDER BY cid""".stripMargin)),

    // ----- J10: interval × interval OVERLAP join — the range-join cell
    // j8 leaves open (j8: point-in-window; here BOTH sides are spans
    // and a pair qualifies iff they intersect — concurrent sessions,
    // incident-to-maintenance correlation). Both sides explode to the
    // buckets their span covers; the RESPONSIBILITY RULE — emit only in
    // the bucket holding max(start_l, start_r), the overlap's left
    // edge, unique per pair and covered by both — makes every pair
    // surface exactly once with NO dedup pass. Purchase spans
    // (1-3 h by event_id) × error spans (1-5 h); per-purchase rollup of
    // concurrent errors and total overlap time. Oracle = the quadratic
    // theta-join definition, proving the bucketing + responsibility
    // rule lossless and duplicate-free.
    Q("j10_interval_overlap",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val lhs = ev.filter($"event_type" === "purchase" && $"event_id" % 4 === 0)
          .select($"event_id".as("pid"), $"ts".as("pts"),
            timestamp_micros(unix_micros($"ts") +
              ($"event_id" % 3 + 1) * lit(3600000000L)).as("pte"))
        val rhs = ev.filter($"event_type" === "error" && $"event_id" % 4 === 1)
          .select($"event_id".as("eid"), $"ts".as("ets"),
            timestamp_micros(unix_micros($"ts") +
              ($"event_id" % 5 + 1) * lit(3600000000L)).as("ete"))
        graft.ops.RangeJoin.intervalOverlap(lhs, rhs,
            $"pts", $"pte", $"ets", $"ete", bucketSec = 3600L)
          .groupBy($"pid")
          .agg(count(lit(1)).as("n_concurrent"), sum($"overlap_us").as("overlap_us_sum"))
          .orderBy($"pid")
      },
      Some("""WITH l AS (SELECT event_id AS pid, epoch_us(ts) AS ls,
             |         epoch_us(ts + (event_id % 3 + 1) * INTERVAL 1 HOUR) AS le
             |       FROM events WHERE event_type = 'purchase' AND event_id % 4 = 0),
             |r AS (SELECT event_id AS eid, epoch_us(ts) AS rs,
             |         epoch_us(ts + (event_id % 5 + 1) * INTERVAL 1 HOUR) AS re
             |       FROM events WHERE event_type = 'error' AND event_id % 4 = 1),
             |p AS (SELECT l.pid, least(l.le, r.re) - greatest(l.ls, r.rs) AS ov
             |      FROM l JOIN r ON l.ls <= r.re AND r.rs <= l.le)
             |SELECT pid, count(*) AS n_concurrent,
             |  CAST(sum(ov) AS BIGINT) AS overlap_us_sum
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X32: DATASET CARD — the governance datasheet (Gebru et al.
    // 2021 "Datasheets for Datasets" made computable): ONE composed
    // plan emitting the per-language release-gate row a data team
    // signs off on — volume (docs, chars), length p50 (k5's
    // histogram-census quantile: no sort), exact-dup exposure (d1's
    // hash census joined back per language), eval-contamination
    // exposure (x6's 3-gram decontamination, matched docs per
    // language), and heuristic-quality pass rate (t3's score ≥ 0.7).
    // Every section reuses the already-audited library operator; the
    // card gates their COMPOSITION in one oracle. At 100 TB each
    // section is census/broadcast-shaped (no new shuffle class), so
    // the card costs a handful of corpus passes and joins on a
    // languages-sized table.
    Q("x32_dataset_card",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val evalSlice = conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long") % 50 === 7
        val train = docs.filter(!evalSlice)
        val base = train.groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_total"))
        val p50 = graft.sketch.Census.histQuantiles(train, $"n_chars", Seq("lang"),
            bucketWidth = 64L, permille = Seq(500))
          .select($"lang", $"q_upper".as("len_p50_upper"))
        val dupHashes = train.groupBy(md5($"text").as("h"))
          .agg(count(lit(1)).as("c")).filter($"c" > 1).select($"h")
        val dupDocs = train.select($"lang", md5($"text").as("h"))
          .join(dupHashes, Seq("h"))
          .groupBy($"lang").agg(count(lit(1)).as("n_exact_dup_docs"))
        val cont = graft.dedup.Dedup.decontaminate(
            train, docs.filter(evalSlice), "doc_id", "text", shingleN = 3)
          .filter($"matched" > 0).select($"id".as("doc_id"))
          .join(train.select($"doc_id", $"lang"), Seq("doc_id"))
          .groupBy($"lang").agg(count(lit(1)).as("n_contaminated"))
        val ntok = size(split($"text", " ")).cast("double")
        val ndist = size(array_distinct(split($"text", " "))).cast("double")
        val score = lit(0.4) * least($"n_chars" / 400.0, lit(1.0)) +
          lit(0.3) * least(ntok / 80.0, lit(1.0)) + lit(0.3) * (ndist / ntok)
        val qual = train
          .select($"lang", when(floor(score * 10) >= 7, 1L).otherwise(0L).as("p"))
          .groupBy($"lang").agg(sum($"p").as("n_quality_pass"))
        base.join(p50, Seq("lang"))
          .join(dupDocs, Seq("lang"), "left")
          .join(cont, Seq("lang"), "left")
          .join(qual, Seq("lang"))
          .select($"lang", $"n_docs", $"chars_total", $"len_p50_upper",
            coalesce($"n_exact_dup_docs", lit(0L)).as("n_exact_dup_docs"),
            coalesce($"n_contaminated", lit(0L)).as("n_contaminated"),
            $"n_quality_pass")
          .orderBy($"lang")
      },
      Some("""WITH base0 AS (SELECT *,
             |    ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 50 = 7 AS is_eval
             |  FROM documents),
             |tr AS (SELECT * FROM base0 WHERE NOT is_eval),
             |ev AS (SELECT * FROM base0 WHERE is_eval),
             |b AS (SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars_total
             |      FROM tr GROUP BY 1),
             |census AS (SELECT lang, (n_chars - ((n_chars % 64) + 64) % 64) // 64 AS bucket,
             |         count(*) AS cnt FROM tr GROUP BY 1, 2),
             |cum AS (SELECT lang, bucket,
             |         sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
             |         sum(cnt) OVER (PARTITION BY lang) AS total FROM census),
             |sel AS (SELECT lang, min(bucket) AS bkt FROM cum
             |        WHERE cum >= greatest(1, (500 * total + 999) // 1000) GROUP BY 1),
             |p50 AS (SELECT lang, (bkt + 1) * 64 - 1 AS len_p50_upper FROM sel),
             |dh AS (SELECT md5(text) AS h FROM tr GROUP BY 1 HAVING count(*) > 1),
             |dd AS (SELECT lang, count(*) AS n_exact_dup_docs
             |       FROM tr JOIN dh ON md5(tr.text) = dh.h GROUP BY 1),
             |evg AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(len(s)-2),
             |          i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]||' '||s[i+3]),1,15))::BIGINT))) AS g
             |        FROM (SELECT string_split(text,' ') AS s FROM ev) WHERE len(s) >= 3),
             |trg AS (SELECT doc_id, lang,
             |          unnest(list_distinct(list_transform(range(len(s)-2),
             |            i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]||' '||s[i+3]),1,15))::BIGINT))) AS g
             |        FROM (SELECT doc_id, lang, string_split(text,' ') AS s FROM tr)
             |        WHERE len(s) >= 3),
             |cont AS (SELECT lang, count(DISTINCT doc_id) AS n_contaminated
             |         FROM trg JOIN evg USING (g) GROUP BY 1),
             |qual AS (SELECT lang, sum(CASE WHEN floor((0.4*least(n_chars/400.0, 1.0)
             |           + 0.3*least(len(string_split(text,' '))/80.0, 1.0)
             |           + 0.3*(len(list_distinct(string_split(text,' ')))::DOUBLE
             |                  / len(string_split(text,' '))))*10) >= 7
             |           THEN 1 ELSE 0 END) AS n_quality_pass
             |        FROM tr GROUP BY 1)
             |SELECT b.lang, b.n_docs, CAST(b.chars_total AS BIGINT) AS chars_total,
             |  CAST(p50.len_p50_upper AS BIGINT) AS len_p50_upper,
             |  CAST(coalesce(dd.n_exact_dup_docs, 0) AS BIGINT) AS n_exact_dup_docs,
             |  CAST(coalesce(cont.n_contaminated, 0) AS BIGINT) AS n_contaminated,
             |  CAST(qual.n_quality_pass AS BIGINT) AS n_quality_pass
             |FROM b JOIN p50 USING (lang) LEFT JOIN dd USING (lang)
             |LEFT JOIN cont USING (lang) JOIN qual USING (lang)
             |ORDER BY lang""".stripMargin)),

    // ----- S17: streaming GAP DETECTION (downtime / feed-health
    // monitoring) — the streaming complement of w7's batch densify:
    // per event type, every consecutive-pair gap over 2 h is an
    // incident row. Gap pairs are ORDER-sensitive, so the staged waves
    // split by TIME RANGE (equal-ts events always share a wave — the
    // split key is ts itself), arrival order across waves preserves
    // event-time order, and each batch is sorted by (ts, id) inside
    // the group function. State per key is ONE (ts, id) pair at any
    // stream length; cross-wave pairs come from the state-to-first
    // stitch, so the union of within- and cross-wave pairs is exactly
    // the batch lag() pair set — gated by that oracle.
    Q("s17_stream_gap_detect",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
        val thresholdUs = 7200000000L // 2 h
        val base = t(s, dir, "events")
        val tmpRoot = java.nio.file.Files.createTempDirectory("graft_s17_")
        val inDir = tmpRoot.resolve("in"); java.nio.file.Files.createDirectories(inDir)
        def writeWave(df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
          val stage = tmpRoot.resolve(s"stage$k").toString
          df.coalesce(1).write.parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = inDir.resolve(s"wave$k.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          dst.toFile.setLastModified(1700000000000L + k * 60000L)
        }
        val slim = base.select($"event_type", $"event_id", unix_micros($"ts").as("tus"))
        val b = slim.agg(min($"tus").as("lo"), max($"tus").as("hi")).head()
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
        writeWave(slim.filter($"tus" < cut1), 1)
        writeWave(slim.filter($"tus" >= cut1 && $"tus" < cut2), 2)
        writeWave(slim.filter($"tus" >= cut2), 3)
        val queryName = "graft_gap_" + java.util.UUID.randomUUID.toString.replace("-", "")
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = s.readStream.schema(slim.schema)
            .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
            .as[(String, Long, Long)]
            .groupByKey(_._1)
            .flatMapGroupsWithState[(Long, Long), (String, Long, Long, Long)](
              OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, rows, state) =>
              val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
              var prev = state.getOption // (last_ts, last_id)
              val out = Seq.newBuilder[(String, Long, Long, Long)]
              sorted.foreach { case (_, id, ts) =>
                prev match {
                  case Some((pts, pid)) if ts - pts > thresholdUs =>
                    out += ((key, pid, id, ts - pts))
                  case _ =>
                }
                prev = Some((ts, id))
              }
              prev.foreach(state.update)
              out.result().iterator
            }
            .toDF("event_type", "prev_id", "next_id", "gap_us")
            .writeStream.outputMode("append")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        s.table(queryName).orderBy($"event_type", $"prev_id", $"next_id")
      },
      Some("""WITH g AS (SELECT event_type, event_id, epoch_us(ts) AS tus,
             |         lag(event_id) OVER (PARTITION BY event_type
             |           ORDER BY epoch_us(ts), event_id) AS pid,
             |         lag(epoch_us(ts)) OVER (PARTITION BY event_type
             |           ORDER BY epoch_us(ts), event_id) AS pts
             |       FROM events)
             |SELECT event_type, pid AS prev_id, event_id AS next_id,
             |  CAST(tus - pts AS BIGINT) AS gap_us
             |FROM g WHERE tus - pts > 7200000000
             |ORDER BY 1, 2, 3""".stripMargin)),

    // ----- X31: compaction PLANNING (Delta/Iceberg OPTIMIZE's
    // scheduling half) — the small-file problem solved as metadata
    // arithmetic: cumulative-sum binning assigns files to ~target-byte
    // rewrite bins in a deterministic per-group order, so two planners
    // looking at the same census emit the SAME plan (reproducible
    // retries). One window pass over the file-count-sized census; no
    // data files are read to plan. documents stand in as the file
    // census (doc_id = file key, n_chars = bytes, source = table
    // partition); per-bin rollup gates count, bytes, and the id span.
    Q("x31_compaction_bins",
      (s, dir) => {
        import s.implicits._
        graft.ops.Compaction.binBySize(
            t(s, dir, "documents").select($"source", $"doc_id", $"n_chars"),
            groupCol = $"source", orderCol = $"doc_id",
            bytesCol = $"n_chars", targetBytes = 4096L)
          .groupBy($"source", $"bin")
          .agg(count(lit(1)).as("n_files"), sum($"n_chars").as("bytes"),
            min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
          .orderBy($"source", $"bin")
      },
      Some("""WITH c AS (SELECT source, doc_id, n_chars,
             |         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id)
             |           - n_chars AS cb
             |       FROM documents)
             |SELECT source, CAST(cb // 4096 AS BIGINT) AS bin,
             |  count(*) AS n_files, CAST(sum(n_chars) AS BIGINT) AS bytes,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- W8: integer EWMA smoothing — the trend signal over w7's
    // densified grid, ORDER-SAFE: a running EMA is a sequential
    // recursion no shuffle replays, but the W-term truncated form
    // Σ_{j<8} v_{t-j}·2^(7-j) (α = 1/2, dyadic weights — w6's
    // discipline applied along time instead of age) is a plain
    // windowed weighted sum: 8 lag() terms in ONE window pass per key,
    // exact integer arithmetic, missing buckets contribute 0 via the
    // gap-filled grid. Composition gate: GapFill feeds the smoother
    // inside one plan.
    Q("w8_ewma",
      (s, dir) => {
        import s.implicits._
        val obs = t(s, dir, "events")
          .groupBy($"event_type", expr("unix_timestamp(ts) div 86400").as("day"))
          .agg(sum(quant($"value", 100)).as("cents"))
        val filled = graft.ops.GapFill.forwardFill(obs, "event_type", "day", "cents")
          .select($"event_type", $"day",
            when($"filled" === 0, $"v").otherwise(lit(0L)).as("c"))
        val w = Window.partitionBy($"event_type").orderBy($"day")
        val terms = ($"c" * lit(128L)) +: (1 until 8).map(j =>
          coalesce(lag($"c", j).over(w), lit(0L)) * lit(1L << (7 - j)))
        val ewma = terms.reduce(_ + _)
        filled.withColumn("ewma256", ewma)
          .select($"event_type", $"day", $"c", $"ewma256")
          .orderBy($"event_type", $"day")
      },
      Some("""WITH obs AS (SELECT event_type, epoch(ts)::BIGINT // 86400 AS day,
             |          sum(CAST(floor(value*100+0.5) AS BIGINT)) AS cents
             |        FROM events GROUP BY 1, 2),
             |b AS (SELECT min(day) AS lo, max(day) AS hi FROM obs),
             |grid AS (SELECT k.event_type, CAST(unnest(range(b.lo, b.hi + 1)) AS BIGINT) AS day
             |         FROM (SELECT DISTINCT event_type FROM obs) k CROSS JOIN b),
             |f AS (SELECT g.event_type, g.day, coalesce(o.cents, 0) AS c
             |      FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.day = o.day),
             |e AS (SELECT event_type, day, c,
             |        c * 128 + coalesce(lag(c, 1) OVER w, 0) * 64
             |        + coalesce(lag(c, 2) OVER w, 0) * 32 + coalesce(lag(c, 3) OVER w, 0) * 16
             |        + coalesce(lag(c, 4) OVER w, 0) * 8 + coalesce(lag(c, 5) OVER w, 0) * 4
             |        + coalesce(lag(c, 6) OVER w, 0) * 2 + coalesce(lag(c, 7) OVER w, 0) AS ewma256
             |      FROM f WINDOW w AS (PARTITION BY event_type ORDER BY day))
             |SELECT event_type, day, CAST(c AS BIGINT) AS c, CAST(ewma256 AS BIGINT) AS ewma256
             |FROM e ORDER BY 1, 2""".stripMargin)),

    // ----- M9: shot-boundary detection — the video-side segmentation
    // primitive (m3 samples frames; this finds the CUTS between them):
    // per 64-byte frame a 16-bin coarse byte histogram (m5's
    // descriptor), consecutive-frame L1 distance, boundary where the
    // content distribution shifts (L1 > 16, the p90 of the fixture's
    // deltas). The imperative per-blob frame loop is m8's real
    // media-UDF batch shape — per-row state is two 16-int histograms
    // regardless of blob size, embarrassingly parallel. The oracle
    // replays histograms on the FULL 16-bin grid (absent bins count 0
    // in the L1), per-bin lag deltas, thresholding, and rollups.
    Q("m9_shot_boundaries",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .filter($"doc_id" < 200)
          .select($"doc_id", $"text".cast("binary").as("blob"))
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            it.map { case (id, b) =>
              val frames = b.length / 64
              val hist = new Array[Int](16)
              val prev = new Array[Int](16)
              var cuts = 0L; var maxL1 = 0L
              var f = 0
              while (f < frames) {
                java.util.Arrays.fill(hist, 0)
                var i = f * 64; val end = i + 64
                while (i < end) { hist((b(i) & 0xff) >> 4) += 1; i += 1 }
                if (f > 0) {
                  var l1 = 0L; var k = 0
                  while (k < 16) { l1 += math.abs(hist(k) - prev(k)); k += 1 }
                  if (l1 > 16L) cuts += 1
                  if (l1 > maxL1) maxL1 = l1
                }
                System.arraycopy(hist, 0, prev, 0, 16)
                f += 1
              }
              (id, frames, cuts, maxL1)
            }
          }.toDF("doc_id", "n_frames", "n_cuts", "max_delta")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text, len(text) AS n FROM documents WHERE doc_id < 200),
             |fr AS (SELECT doc_id, CAST(unnest(range(0, n // 64)) AS INT) AS f, text FROM d),
             |sm AS (SELECT doc_id, f, ord(text[f*64 + q.i + 1]) // 16 AS bin
             |       FROM fr CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS INT) AS i) q),
             |h AS (SELECT doc_id, f, bin, count(*) AS c FROM sm GROUP BY 1, 2, 3),
             |gb AS (SELECT fr.doc_id, fr.f, b.b AS bin, coalesce(h.c, 0) AS c
             |       FROM fr CROSS JOIN (SELECT CAST(unnest(range(16)) AS INT) AS b) b
             |       LEFT JOIN h ON h.doc_id = fr.doc_id AND h.f = fr.f AND h.bin = b.b),
             |dl AS (SELECT doc_id, bin, f,
             |         abs(c - lag(c) OVER (PARTITION BY doc_id, bin ORDER BY f)) AS ad
             |       FROM gb),
             |l1 AS (SELECT doc_id, f, sum(ad) AS l1 FROM dl WHERE ad IS NOT NULL GROUP BY 1, 2),
             |r AS (SELECT doc_id, sum(CASE WHEN l1 > 16 THEN 1 ELSE 0 END) AS n_cuts,
             |        max(l1) AS max_delta
             |      FROM l1 GROUP BY 1)
             |SELECT d.doc_id, CAST(d.n // 64 AS INT) AS n_frames,
             |  CAST(coalesce(r.n_cuts, 0) AS BIGINT) AS n_cuts,
             |  CAST(coalesce(r.max_delta, 0) AS BIGINT) AS max_delta
             |FROM d LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin))
  )

  private lazy val roundTenC: Seq[Q] = Seq(
    // ----- T21: interpolated Kneser-Ney bigram LM (Kneser & Ney 1995;
    // Chen & Goodman 1998 §2.7) — the accuracy step past t17's Stupid
    // Backoff: absolute discounting moves mass from seen bigrams to the
    // CONTINUATION distribution (distinct-left-context counts, not raw
    // frequency). The whole model is ONE bounded (bp, bc, c) census
    // (≤ 256² rows) from which prev totals, both N1+ censuses, and the
    // distinct-bigram total all derive — training is one map-side
    // groupBy, scoring three broadcast joins; no corpus shuffle. The
    // oracle replays census, derivations, both branches, and the
    // micro-nat quantization bit-for-bit.
    Q("t21_kneser_ney",
      (s, dir) => {
        import s.implicits._
        import graft.text.KneserNey
        val docs = t(s, dir, "documents")
        val ref = docs.filter($"lang" === "en" && $"doc_id" % 3 === 0)
        val census = KneserNey.bigramCensus(ref, "text", numBuckets = 256)
        val scored = KneserNey.score(docs, "doc_id", "text", census, numBuckets = 256)
        docs.select($"doc_id", $"lang").join(scored, Seq("doc_id"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_pos").as("n_pos"),
               sum($"n_backoff").as("n_backoff"), sum($"score").as("score_sum"))
          .orderBy($"lang")
      },
      Some("""WITH tk AS (SELECT doc_id, lang, string_split(text,' ') AS s FROM documents),
             |ref AS (SELECT * FROM tk WHERE lang = 'en' AND doc_id % 3 = 0),
             |bg AS (SELECT unnest(list_transform(range(len(s)-1), i -> struct_pack(
             |         bp := ('0x'||substr(md5(s[i+1]),1,15))::BIGINT % 256,
             |         bc := ('0x'||substr(md5(s[i+2]),1,15))::BIGINT % 256))) AS x
             |       FROM ref WHERE len(s) >= 2),
             |cen AS MATERIALIZED (SELECT x.bp AS bp, x.bc AS bc, count(*) AS c
             |       FROM bg GROUP BY 1, 2),
             |pv AS MATERIALIZED (SELECT bp, sum(c) AS cp, count(*) AS n1p FROM cen GROUP BY 1),
             |ct AS MATERIALIZED (SELECT bc, count(*) AS n1c FROM cen GROUP BY 1),
             |st AS (SELECT count(*) AS nt FROM cen),
             |pos AS (SELECT doc_id, lang, unnest(list_transform(range(len(s)-1), i -> struct_pack(
             |          bp := ('0x'||substr(md5(s[i+1]),1,15))::BIGINT % 256,
             |          bc := ('0x'||substr(md5(s[i+2]),1,15))::BIGINT % 256))) AS x
             |        FROM tk WHERE len(s) >= 2),
             |d AS (SELECT doc_id, lang,
             |        CASE WHEN coalesce(pv.cp, 0) > 0
             |          THEN CAST(floor(-ln((greatest(coalesce(cen.c, 0)::DOUBLE - 0.75, 0.0)
             |                 + (0.75 * pv.n1p::DOUBLE)
             |                   * ((coalesce(ct.n1c, 0) + 1)::DOUBLE / (st.nt + 256)::DOUBLE))
             |                 / pv.cp::DOUBLE) * 1000000 + 0.5) AS BIGINT)
             |          ELSE CAST(floor(-ln((coalesce(ct.n1c, 0) + 1)::DOUBLE
             |                 / (st.nt + 256)::DOUBLE) * 1000000 + 0.5) AS BIGINT)
             |        END AS d,
             |        CASE WHEN coalesce(pv.cp, 0) > 0 THEN 0 ELSE 1 END AS bo
             |      FROM pos
             |      LEFT JOIN cen ON x.bp = cen.bp AND x.bc = cen.bc
             |      LEFT JOIN pv ON x.bp = pv.bp
             |      LEFT JOIN ct ON x.bc = ct.bc, st),
             |ps AS (SELECT lang, CAST(sum(d) AS BIGINT) AS score_sum, count(*) AS n_pos,
             |         CAST(sum(bo) AS BIGINT) AS n_backoff FROM d GROUP BY lang),
             |nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
             |SELECT nd.lang, nd.n_docs,
             |  CAST(coalesce(ps.n_pos, 0) AS BIGINT) AS n_pos,
             |  CAST(coalesce(ps.n_backoff, 0) AS BIGINT) AS n_backoff,
             |  CAST(coalesce(ps.score_sum, 0) AS BIGINT) AS score_sum
             |FROM nd LEFT JOIN ps ON nd.lang = ps.lang
             |ORDER BY nd.lang""".stripMargin)),

    // ----- X33: deterministic proportional interleave
    // (Sample.interleaveOrder) — the "data order file" stage after the
    // x19/x22 budget policies: fair-queueing virtual-finish-time keys
    // ((2r−1)·10^18 div 2m through DECIMAL(38,0)) spread each language
    // evenly through the global sequence, so every training prefix is
    // the same mixture as the whole. The gate checks the evenness
    // PROPERTIES (per-language pos extremes, sum, and max gap between
    // consecutive occurrences), which pin every position: the oracle
    // replays ranks, keys, the global order, and the gap census.
    Q("x33_train_order",
      (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"pos")
        graft.ops.Sample.interleaveOrder(
            t(s, dir, "documents"), "lang", $"doc_id")
          .withColumn("gap", $"pos" - lag($"pos", 1).over(w))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"),
               min($"pos").as("first_pos"), max($"pos").as("last_pos"),
               sum($"pos").as("pos_sum"),
               coalesce(max($"gap"), lit(0L)).cast("long").as("max_gap"))
          .orderBy($"lang")
      },
      Some("""WITH m AS (SELECT lang, count(*) AS mm FROM documents GROUP BY 1),
             |r AS (SELECT d.lang, doc_id, mm,
             |        row_number() OVER (PARTITION BY d.lang
             |          ORDER BY ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT, doc_id) AS rn
             |      FROM documents d JOIN m USING (lang)),
             |k AS (SELECT lang, rn,
             |        (CAST(2*rn-1 AS HUGEINT) * 1000000000000000000) // (2*mm) AS key
             |      FROM r),
             |p AS (SELECT lang, row_number() OVER (ORDER BY key, lang, rn) AS pos FROM k),
             |g AS (SELECT lang, pos,
             |        pos - lag(pos) OVER (PARTITION BY lang ORDER BY pos) AS gap FROM p)
             |SELECT lang, count(*) AS n,
             |  CAST(min(pos) AS BIGINT) AS first_pos,
             |  CAST(max(pos) AS BIGINT) AS last_pos,
             |  CAST(sum(pos) AS BIGINT) AS pos_sum,
             |  CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap
             |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- D13: SOFT dedup (Dedup.softDedupWeights) — downweight
    // duplicates instead of dropping them (the reweighting alternative
    // the D4 line compares against hard removal): every member of a
    // size-m cluster gets ⌊10^6/m⌋ ppm, so a cluster contributes ~one
    // doc of effective weight and no arbitrary survivor choice is made.
    // Clusters here are x4's exact-fingerprint components (adjacent-id
    // chain edges → connectedComponents); the census + equi-join adds
    // no pair space. The oracle derives the same weights from the
    // fingerprint groups directly and replays the per-language
    // effective-token census.
    Q("d13_soft_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id", $"lang", size(split($"text", " ")).as("tok"),
            md5(array_join(array_sort(array_distinct(split($"text", " "))), " ")).as("fp"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"fp").orderBy($"doc_id")
        val edges = docs.withColumn("prev", lag($"doc_id", 1).over(w))
          .filter($"prev".isNotNull)
          .select($"prev".as("id_a"), $"doc_id".as("id_b"))
        val comp = withStreamPartitions(s, 8) {
          graft.dedup.Dedup.connectedComponents(edges)
        }
        val withC = docs.join(comp, docs("doc_id") === comp("node"), "left")
          .select($"doc_id", $"lang", $"tok",
            coalesce($"component", $"doc_id").as("cluster"))
        graft.dedup.Dedup.softDedupWeights(withC, "doc_id", "cluster")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
               sum($"weight_ppm").as("w_sum"),
               sum($"tok" * $"weight_ppm").as("eff_tokens_ppm"),
               sum(when($"cluster_sz" > 1, 1L).otherwise(0L)).as("n_in_dup"))
          .orderBy($"lang")
      },
      Some("""WITH f AS (SELECT doc_id, lang, len(string_split(text,' ')) AS tok,
             |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp
             |  FROM documents),
             |g AS (SELECT fp, count(*) AS sz FROM f GROUP BY fp),
             |wt AS (SELECT f.doc_id, f.lang, f.tok, g.sz, 1000000 // g.sz AS w
             |       FROM f JOIN g USING (fp))
             |SELECT lang, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS w_sum,
             |  CAST(sum(tok * w) AS BIGINT) AS eff_tokens_ppm,
             |  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_dup
             |FROM wt GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- M10: voice-activity segmentation — gaps-and-islands over
    // per-frame energy (m8's frame/energy conventions: 64-byte frames,
    // centered samples, integer energy): a frame is ACTIVE when its
    // energy exceeds the threshold, and consecutive active frames merge
    // into segments. The engine runs the real streaming-scan shape (one
    // imperative pass per blob, O(1) state — the form a PCM decoder
    // feeds); the oracle replays frames → energies → threshold →
    // islands (f − row_number trick) → per-doc segment census.
    Q("m10_vad_segments",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id", $"text".cast("binary").as("pcm"))
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            it.map { case (id, b) =>
              val (frames, nAct, nSeg, maxRun) =
                graft.multimodal.Audio.vadStats(b, frameLen = 64, thr = 100000L)
              (id, frames, nAct, nSeg, maxRun)
            }
          }.toDF("doc_id", "n_frames", "n_active", "n_segs", "max_run")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text, len(text) AS n FROM documents),
             |fr AS (SELECT doc_id, CAST(unnest(range(0, n // 64)) AS INT) AS f, text FROM d),
             |sm AS (SELECT doc_id, f, ord(text[f*64 + q.i + 1]) - 64 AS sv
             |       FROM fr CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS INT) AS i) q),
             |fe AS (SELECT doc_id, f, sum(sv*sv) AS e FROM sm GROUP BY 1, 2),
             |af AS (SELECT doc_id, f FROM fe WHERE e > 100000),
             |isl AS (SELECT doc_id, f,
             |          f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS grp
             |        FROM af),
             |runs AS (SELECT doc_id, grp, count(*) AS len FROM isl GROUP BY 1, 2),
             |agg AS (SELECT doc_id, sum(len) AS n_active, count(*) AS n_segs,
             |          max(len) AS max_run FROM runs GROUP BY 1)
             |SELECT d.doc_id, CAST(d.n // 64 AS INT) AS n_frames,
             |  CAST(coalesce(a.n_active, 0) AS BIGINT) AS n_active,
             |  CAST(coalesce(a.n_segs, 0) AS BIGINT) AS n_segs,
             |  CAST(coalesce(a.max_run, 0) AS BIGINT) AS max_run
             |FROM d LEFT JOIN agg a USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // ----- X34: the MIXING capstone — soft dedup → effective-token
    // census → temperature budgets → hash-prefix selection →
    // proportional interleave, composed as one plan: duplicates
    // downweighted (not dropped) feed the budget policy, so an
    // over-crawled language's dup-inflated volume no longer buys it
    // budget; selection and the global data order then follow x22/x33.
    // Each stage is an already-audited library operator (d13, x22, x33);
    // the gate checks their COMPOSITION end-to-end: the oracle replays
    // fingerprint weights → census → integer water-filling → cumsum
    // selection → fair-queueing order → per-language order census.
    Q("x34_mix_order",
      (s, dir) => {
        import s.implicits._
        import graft.ops.Sample
        val docs = t(s, dir, "documents")
          .select($"doc_id", $"lang", size(split($"text", " ")).cast("long").as("tk"),
            md5(array_join(array_sort(array_distinct(split($"text", " "))), " ")).as("cluster"))
        val weighted = graft.dedup.Dedup.softDedupWeights(docs, "doc_id", "cluster")
        val census = weighted.groupBy($"lang")
          .agg(expr("sum(tk * weight_ppm) div 1000000").as("tokens"))
        val budgets = Sample.temperatureBudgets(census, "lang", "tokens",
          totalBudget = 12000L, alpha = 0.5)
        val sel = Sample.unimaxSelect(weighted.select($"doc_id", $"lang", $"tk"),
            "lang", $"doc_id", "tk", budgets)
          .select($"doc_id", $"lang", $"tk")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"pos")
        Sample.interleaveOrder(sel, "lang", $"doc_id")
          .withColumn("gap", $"pos" - lag($"pos", 1).over(w))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"tk").as("tok_sel"),
               min($"pos").as("first_pos"), max($"pos").as("last_pos"),
               sum($"pos").as("pos_sum"),
               coalesce(max($"gap"), lit(0L)).cast("long").as("max_gap"))
          .orderBy($"lang")
      },
      Some("""WITH f AS (SELECT doc_id, lang,
             |    CAST(len(string_split(text,' ')) AS BIGINT) AS tk,
             |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp
             |  FROM documents),
             |g AS (SELECT fp, count(*) AS sz FROM f GROUP BY fp),
             |wt AS (SELECT f.doc_id, f.lang, f.tk, 1000000 // g.sz AS w
             |       FROM f JOIN g USING (fp)),
             |c AS (SELECT lang, sum(tk * w) // 1000000 AS tokens FROM wt GROUP BY lang),
             |wq AS (SELECT lang, tokens,
             |         CAST(floor(pow(tokens::DOUBLE, 0.5) * 1000000.0 + 0.5) AS BIGINT) AS wq
             |       FROM c),
             |b AS (SELECT lang, tokens,
             |        least(tokens, (12000 * wq) // (SELECT sum(wq) FROM wq)) AS budget
             |      FROM wq),
             |h AS (SELECT doc_id, lang, tk,
             |        ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT AS hv FROM wt),
             |cum AS (SELECT lang, doc_id, tk, hv,
             |          sum(tk) OVER (PARTITION BY lang ORDER BY hv, doc_id
             |            ROWS UNBOUNDED PRECEDING) AS cm FROM h),
             |sel AS (SELECT cum.lang, doc_id, tk, hv
             |        FROM cum JOIN b USING (lang) WHERE cm <= b.budget),
             |m AS (SELECT lang, count(*) AS mm FROM sel GROUP BY 1),
             |r AS (SELECT s.lang, doc_id, tk, mm,
             |        row_number() OVER (PARTITION BY s.lang ORDER BY hv, doc_id) AS rn
             |      FROM sel s JOIN m USING (lang)),
             |k AS (SELECT lang, tk, rn,
             |        (CAST(2*rn-1 AS HUGEINT) * 1000000000000000000) // (2*mm) AS key
             |      FROM r),
             |p AS (SELECT lang, tk, row_number() OVER (ORDER BY key, lang, rn) AS pos FROM k),
             |gp AS (SELECT lang, tk, pos,
             |         pos - lag(pos) OVER (PARTITION BY lang ORDER BY pos) AS gap FROM p)
             |SELECT lang, count(*) AS n, CAST(sum(tk) AS BIGINT) AS tok_sel,
             |  CAST(min(pos) AS BIGINT) AS first_pos,
             |  CAST(max(pos) AS BIGINT) AS last_pos,
             |  CAST(sum(pos) AS BIGINT) AS pos_sum,
             |  CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap
             |FROM gp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X35: curriculum data order (Bengio et al. 2009) — the
    // difficulty-staged variant of x33: per-language perplexity
    // TERCILES (t13's partitioned ntile — easy terciles first) become
    // the training phases, and within each phase languages interleave
    // proportionally (Sample.interleaveOrderPhased). Every stage is
    // deterministic and already audited (t13 scoring, x33 schedule);
    // the oracle replays LM → per-doc mean NLL → per-lang terciles →
    // phased fair-queueing order → per-(phase, lang) order census.
    Q("x35_curriculum_order",
      (s, dir) => {
        import s.implicits._
        import graft.text.{Dsir, Perplexity}
        val docs = t(s, dir, "documents")
        val lm = Dsir.bucketCounts(
          docs.filter($"lang" === "en" && $"doc_id" % 3 === 0), "text", 2, 1024)
        val scored = Perplexity.nll(docs, "doc_id", "text", lm, n = 2,
          numBuckets = 1024, quantDigits = 6)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"mean_nll", $"doc_id")
        val phased = docs.select($"doc_id", $"lang").join(scored, Seq("doc_id"))
          .withColumn("phase", ntile(3).over(w))
          .select($"doc_id", $"lang", $"phase")
        val gw = org.apache.spark.sql.expressions.Window
          .partitionBy($"phase", $"lang").orderBy($"pos")
        graft.ops.Sample.interleaveOrderPhased(phased, "phase", "lang", $"doc_id")
          .withColumn("gap", $"pos" - lag($"pos", 1).over(gw))
          .groupBy($"phase", $"lang")
          .agg(count(lit(1)).as("n"),
               min($"pos").as("first_pos"), max($"pos").as("last_pos"),
               sum($"pos").as("pos_sum"),
               coalesce(max($"gap"), lit(0L)).cast("long").as("max_gap"))
          .orderBy($"phase", $"lang")
      },
      Some("""WITH tk AS (SELECT doc_id, lang, string_split(text,' ') AS s
             |           FROM documents),
             |g AS (SELECT doc_id, lang,
             |        unnest(list_transform(range(len(s)-1),
             |          i -> ('0x'||substr(md5(s[i+1]||' '||s[i+2]),1,15))::BIGINT % 1024)) AS b
             |      FROM tk WHERE len(s) >= 2),
             |lm AS (SELECT b, count(*) AS c FROM g
             |       WHERE lang = 'en' AND doc_id % 3 = 0 GROUP BY b),
             |lt AS (SELECT count(*) AS t FROM g
             |       WHERE lang = 'en' AND doc_id % 3 = 0),
             |q AS (SELECT g.doc_id,
             |        CAST(floor(-ln(((coalesce(lm.c, 0) + 1)::DOUBLE)
             |                       / ((lt.t + 1024)::DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS d
             |      FROM g LEFT JOIN lm ON g.b = lm.b, lt),
             |sc AS (SELECT doc_id, sum(d) AS nll, count(*) AS n FROM q GROUP BY doc_id),
             |m AS (SELECT d.doc_id, d.lang,
             |        CASE WHEN coalesce(sc.n, 0) > 0
             |             THEN coalesce(sc.nll, 0) // sc.n ELSE 0 END AS mean_nll
             |      FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
             |ph AS (SELECT doc_id, lang,
             |         ntile(3) OVER (PARTITION BY lang ORDER BY mean_nll, doc_id) AS phase
             |       FROM m),
             |cnt AS (SELECT phase, lang, count(*) AS mm FROM ph GROUP BY 1, 2),
             |r AS (SELECT ph.phase, ph.lang, doc_id, mm,
             |        row_number() OVER (PARTITION BY ph.phase, ph.lang
             |          ORDER BY ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT, doc_id) AS rn
             |      FROM ph JOIN cnt USING (phase, lang)),
             |k AS (SELECT phase, lang, rn,
             |        (CAST(2*rn-1 AS HUGEINT) * 1000000000000000000) // (2*mm) AS key
             |      FROM r),
             |p AS (SELECT phase, lang,
             |        row_number() OVER (ORDER BY phase, key, lang, rn) AS pos FROM k),
             |gp AS (SELECT phase, lang, pos,
             |         pos - lag(pos) OVER (PARTITION BY phase, lang ORDER BY pos) AS gap
             |       FROM p)
             |SELECT phase, lang, count(*) AS n,
             |  CAST(min(pos) AS BIGINT) AS first_pos,
             |  CAST(max(pos) AS BIGINT) AS last_pos,
             |  CAST(sum(pos) AS BIGINT) AS pos_sum,
             |  CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap
             |FROM gp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- A10: GROUPING SETS — the aggregation-lattice variant a9's
    // rollup/cube cannot spell: an arbitrary set list (here {(rf, ls),
    // (ls), ()} — the (rf) level deliberately SKIPPED, which is exactly
    // what distinguishes explicit sets from rollup). One shuffle
    // computes every requested level (Catalyst expands the sets into a
    // single Expand + aggregate — no per-level re-scan), the same
    // economics that make report lattices affordable at 100 TB.
    Q("a10_grouping_sets",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupingSets(
            Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_linestatus"), Seq()),
            $"l_returnflag", $"l_linestatus")
          .agg(sum($"l_quantity").cast("long").as("sum_qty"), count(lit(1)).as("n"))
          .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
                  coalesce($"l_linestatus", lit("ALL")).as("ls"),
                  $"sum_qty", $"n")
          .orderBy($"rf", $"ls")
      },
      Some("""SELECT COALESCE(l_returnflag,'ALL') AS rf, COALESCE(l_linestatus,'ALL') AS ls,
             |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty, count(*) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
             |ORDER BY rf, ls""".stripMargin)),

    // ----- T22: WordPiece training (Schuster & Nakajima 2012 — the
    // BERT vocabulary builder), completing the tokenizer triad beside
    // BPE (t11/t12) and Unigram (t19/t20). The BPE skeleton with the
    // argmax swapped to the LIKELIHOOD-gain score c(ab)/(c(a)·c(b)),
    // quantized to integer picoparts through DECIMAL(38,0); each round
    // adds one vocabulary-bounded symbol census beside the pair census.
    // The oracle unrolls all 8 rounds (census → score argmax → greedy
    // merge) programmatically, the bpeTrainOracle8 pattern.
    Q("t22_wordpiece",
      (s, dir) => {
        import s.implicits._
        graft.text.WordPiece.train(t(s, dir, "documents"), "text", numMerges = 8)
          .orderBy($"rank")
      },
      Some(wordPieceOracle8)),

    // ----- T23: WordPiece training, the AT-SCALE trainer (the t12
    // discipline applied to the third tokenizer): one corpus-sized
    // word-frequency reduction, then the indexed merge loop driver-side
    // with ZERO further Spark jobs — where train's one-job-per-merge
    // bound makes a 30k-merge vocabulary 30k sequential censuses. The
    // likelihood argmax needs an extra index vs BPE's (symbol→pairs, to
    // rescore pairs whose DENOMINATOR changed — design in
    // WordPiece.trainLocal). Bit-identical to t22 by construction, so it
    // shares t22's 8-round unrolled oracle: the SQL replay gates BOTH
    // trainers independently.
    Q("t23_wordpiece_local",
      (s, dir) => {
        import s.implicits._
        graft.text.WordPiece.trainLocal(t(s, dir, "documents"), "text", numMerges = 8)
          .orderBy($"rank")
      },
      Some(wordPieceOracle8)),

    // ----- T25: WordPiece INFERENCE (WordPiece.segmentGreedy) — the
    // runtime half of t22/t23: BERT's max-munch tokenizer over the
    // trained vocabulary (the 8 learned merges + single chars past a
    // deterministic 1%-of-corpus frequency cutoff — the cutoff is what
    // gives the fixture real [UNK]s: 'q'/'j' sit under 1% at every sf,
    // so words containing them unmatchably die mid-walk unless a merge
    // covers the position). Scan is map-side with the |V|-row vocab
    // broadcast, join-free; per-lang word/piece/[UNK] census. The
    // oracle replays training (the shared 8-round CTEs), the char
    // cutoff, the per-(word,pos) longest-match table, and the greedy
    // walk as a RECURSIVE chain.
    Q("t25_wordpiece_segment",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        // ONE corpus reduction, shared: trainLocalFromWordFreq (bit-
        // identical to train by WordPieceSpec's parity law and t23's
        // shared oracle — no 8 sequential merge-round jobs) and the char
        // census both derive from the same persisted word-frequency
        // table, so chars explode once per DISTINCT word weighted by its
        // count (corpus-chars -> vocab-chars volume)
        val wf = graft.text.WordPiece.wordFreq(docs, "text").persist()
        val merged = graft.text.WordPiece.trainLocalFromWordFreq(wf, numMerges = 8)
          .select($"merged").collect().map(_.getString(0)).toSeq
        val cc = wf
          .select(explode(split($"w", "")).as("c"), $"cnt")
          .groupBy($"c").agg(sum($"cnt").as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        wf.unpersist()
        val totalC = cc.map(_._2).sum
        val kept = cc.filter { case (_, n) => 100L * n >= totalC }.map(_._1)
        graft.text.WordPiece.segmentGreedy(docs, "text", (kept ++ merged).toSeq)
          .groupBy($"lang")
          .agg(sum($"n_words").as("n_words"),
               sum($"n_pieces").as("sum_pieces"),
               sum($"n_unk").as("n_unk_words"))
          .orderBy($"lang")
      },
      Some(wordPieceSegmentOracle)),

    // ----- X36: HYBRID retrieval via reciprocal-rank fusion
    // (ops.Fusion.rrf — Cormack et al. 2009): the BM25 lexical arm
    // (t16's operator, top-20 for a 3-term query) and the semantic arm
    // (v1's quantized-cosine ranking for one query vector, top-20) fuse
    // rank-based — ⌊10¹²/(60+rk)⌋ integer contributions summed per id —
    // so the arms' incommensurable score scales need no calibration.
    // This is the retrieval shape RAG data curation runs at 100 TB:
    // each arm is already bounded (TakeOrderedAndProject / probe-bounded
    // postings), fusion touches Σk rows. The oracle replays both arms
    // (the t16 and v1 replays verbatim) and the integer fusion.
    Q("x36_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        // fusion needs ONE id space: rank only the docs that have an
        // embedding counterpart (doc_id = vec_id), i.e. the corpus
        // slice both arms can speak about — a semi-join, so the bound
        // is derived from the data at any sf, never hardcoded
        val emb = t(s, dir, "embeddings")
        val corpus = t(s, dir, "documents")
          .join(emb.select($"vec_id".as("doc_id")), Seq("doc_id"), "left_semi")
        val lex = graft.text.Bm25.topK(corpus, "doc_id", "text",
            Seq("dup", "join", "spark"), k = 60)
          .select($"id", $"rk")
        val v = emb
          .select($"vec_id", qvec($"embedding").as("qv"))
          .withColumn("nq", dotq($"qv", $"qv"))
        val q = v.filter($"vec_id" === 0)
        val pairs = broadcast(q.as("a")).join(v.as("b"), $"a.vec_id" =!= $"b.vec_id")
          .select($"b.vec_id".as("id"),
            cosq($"a.qv", $"b.qv", $"a.nq", $"b.nq").as("cos"))
        val wv = Window.orderBy($"cos".desc, $"id")
        val sem = pairs.orderBy($"cos".desc, $"id").limit(60)
          .withColumn("rk", row_number().over(wv)).select($"id", $"rk")
        graft.ops.Fusion.rrf(Seq(lex, sem), topK = 15).orderBy($"rk")
      },
      Some("""WITH dd AS (SELECT doc_id, string_split(text,' ') AS s FROM documents
             |        WHERE doc_id IN (SELECT vec_id FROM embeddings)),
             |st AS (SELECT count(*) AS n_docs, sum(len(s)) AS total_len FROM dd),
             |tk AS (SELECT doc_id, len(s) AS dl, unnest(s) AS tok FROM dd),
             |tf AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl FROM tk
             |       WHERE tok IN ('dup','join','spark') GROUP BY doc_id, tok),
             |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |c AS (SELECT tf.doc_id, CAST(floor(
             |        ln((st.n_docs::DOUBLE - dfq.df::DOUBLE + 0.5)
             |             / (dfq.df::DOUBLE + 0.5) + 1.0)
             |          * tf.tf::DOUBLE * (1.2 + 1.0)
             |        / (tf.tf::DOUBLE + 1.2 * (0.25
             |             + 0.75 * tf.dl::DOUBLE
             |               / (st.total_len::DOUBLE / st.n_docs::DOUBLE)))
             |        * 1000000.0 + 0.5) AS BIGINT) AS c
             |      FROM tf JOIN dfq USING (tok) CROSS JOIN st),
             |sc AS (SELECT doc_id AS id, sum(c) AS score FROM c GROUP BY 1),
             |lex AS (SELECT id, rk FROM (SELECT id,
             |          row_number() OVER (ORDER BY score DESC, id) AS rk FROM sc)
             |        WHERE rk <= 60),
             |qv AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |nn AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM qv),
             |semc AS (SELECT b.vec_id AS id,
             |    round(list_sum(list_transform(list_zip(a.qv,b.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(a.nq::DOUBLE) * sqrt(b.nq::DOUBLE)), 6) AS cos
             |  FROM nn a, nn b WHERE a.vec_id = 0 AND b.vec_id != 0),
             |sem AS (SELECT id, rk FROM (SELECT id,
             |          row_number() OVER (ORDER BY cos DESC, id) AS rk FROM semc)
             |        WHERE rk <= 60),
             |u AS (SELECT id, 1000000000000 // (60 + rk) AS c FROM lex
             |      UNION ALL SELECT id, 1000000000000 // (60 + rk) FROM sem),
             |f AS (SELECT id, CAST(sum(c) AS BIGINT) AS score, count(*) AS n_arms
             |      FROM u GROUP BY 1)
             |SELECT CAST(rk AS INT) AS rk, id, score, n_arms FROM
             |  (SELECT id, score, n_arms,
             |     row_number() OVER (ORDER BY score DESC, id) AS rk FROM f)
             |WHERE rk <= 15 ORDER BY rk""".stripMargin)),

    // ----- V21: MMR diversification (ann.Mmr.diversify, λ=1/2) — the
    // retrieval-results deduper: the top-12 cosine shortlist for one
    // query re-ranks so each of 5 picks maximizes rel − max-sim-to-
    // selected. The shortlist is the scale contract (it arrives bounded
    // from the ANN arm); the m² sim table computes in Spark with v1's
    // rounding convention and the greedy loop is driver arithmetic on
    // those exact doubles. Oracle unrolls the 5 greedy rounds.
    Q("v21_mmr",
      (s, dir) => {
        import s.implicits._
        val v = t(s, dir, "embeddings")
          .select($"vec_id", qvec($"embedding").as("qv"))
          .withColumn("nq", dotq($"qv", $"qv"))
        val q = v.filter($"vec_id" === 0)
        val relt = broadcast(q.as("a")).join(v.as("b"), $"a.vec_id" =!= $"b.vec_id")
          .select($"b.vec_id".as("id"), $"b.qv".as("qv"),
            cosq($"a.qv", $"b.qv", $"a.nq", $"b.nq").as("rel"))
        val short = relt.orderBy($"rel".desc, $"id").limit(12)
        graft.ann.Mmr.diversify(short, k = 5).orderBy($"rk")
      },
      Some(mmrOracle5)),

    // ----- X37: CALIBRATED quality cut (Sample.quantileFilter) — the
    // FineWeb-style per-source threshold: keep each source's top 30%
    // BY SCORE (t3's quality formula quantized to integer micro-units),
    // so the cut score differs per source and a global threshold can't
    // starve clean-but-modest sources. Integer cross-multiplied rank
    // test (10·rk ≤ 3·n), (score desc, id) ties — one group shuffle.
    // The census proves calibration: cut_score varies across sources.
    Q("x37_calibrated_cut",
      (s, dir) => {
        import s.implicits._
        val ntok = size(split($"text", " ")).cast("double")
        val ndist = size(array_distinct(split($"text", " "))).cast("double")
        val quality = lit(0.4) * least($"n_chars" / 400.0, lit(1.0)) +
          lit(0.3) * least(ntok / 80.0, lit(1.0)) + lit(0.3) * (ndist / ntok)
        val scored = t(s, dir, "documents")
          .select($"doc_id", $"source", quant(quality, 1000000L).as("score"))
        graft.ops.Sample.quantileFilter(scored, "source", "score", $"doc_id", 3, 10)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_kept"), min($"score").as("cut_score"),
               sum($"score").as("sum_score"))
          .orderBy($"source")
      },
      Some("""WITH s AS (SELECT doc_id, source, CAST(floor(
             |    (0.4*least(n_chars/400.0, 1.0)
             |     + 0.3*least(len(string_split(text,' '))/80.0, 1.0)
             |     + 0.3*(len(list_distinct(string_split(text,' ')))::DOUBLE
             |            / len(string_split(text,' '))))*1000000 + 0.5) AS BIGINT) AS score
             |  FROM documents),
             |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rk,
             |        count(*) OVER (PARTITION BY source) AS n FROM s),
             |k AS (SELECT * FROM r WHERE 10*rk <= 3*n)
             |SELECT source, count(*) AS n_kept, min(score) AS cut_score,
             |  CAST(sum(score) AS BIGINT) AS sum_score
             |FROM k GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T26: markup scrub (text.Normalize.stripMarkup) — the
    // extraction-stage cleanup in front of every crawl pipeline: strip
    // tags to spaces, decode XML entities (&amp; last — one escaping
    // level per pass), collapse whitespace. The fixture text is clean,
    // so the query MANUFACTURES deterministic markup from each doc
    // (the m2 build-then-decode discipline): wrap in tags, escape the
    // " the " occurrences, add a doc_id-dependent <br/>; the scrub must
    // then be the exact inverse modulo the intended "&the " survivors.
    // Entirely codegen'd built-ins — no UDF in the scan. The oracle
    // replays construction and scrub; min/max md5 pin the full strings.
    Q("t26_markup_scrub",
      (s, dir) => {
        import s.implicits._
        val html = concat(
          lit("<p id=\"d"), $"doc_id", lit("\"> <b>"),
          replace($"text", lit(" the "), lit(" &amp;the ")),
          lit("</b></p>"),
          when($"doc_id" % 3 === 0, lit("<br/>")).otherwise(lit("")))
        val clean = graft.text.Normalize.stripMarkup(html)
        t(s, dir, "documents")
          .select($"lang", $"text", clean.as("clean"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
               sum(length($"clean")).cast("long").as("sum_clean_len"),
               sum(when($"clean".contains("&the"), 1L).otherwise(0L)).as("n_amp"),
               min(md5($"clean")).as("md5_lo"), max(md5($"clean")).as("md5_hi"))
          .orderBy($"lang")
      },
      Some("""WITH h AS (SELECT lang,
             |    '<p id="d' || doc_id || '"> <b>' ||
             |    replace(text, ' the ', ' &amp;the ') || '</b></p>' ||
             |    CASE WHEN doc_id % 3 = 0 THEN '<br/>' ELSE '' END AS html
             |  FROM documents),
             |c AS (SELECT lang, trim(regexp_replace(
             |    replace(replace(replace(replace(replace(replace(
             |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
             |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
             |    '\s+', ' ', 'g')) AS clean
             |  FROM h)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(length(clean)) AS BIGINT) AS sum_clean_len,
             |  CAST(sum(CASE WHEN contains(clean, '&the') THEN 1 ELSE 0 END) AS BIGINT) AS n_amp,
             |  min(md5(clean)) AS md5_lo, max(md5(clean)) AS md5_hi
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- S18: STREAMING anomaly detection — w9's integer EWMA-band
    // detector as live monitoring state: per event_type the state is
    // ONE (lastDay, 8-value ring) — ~9 longs at any stream length — and
    // each batch walks the day grid forward from the state, zero-filling
    // unobserved days (w7's grid fill as streaming catch-up), emitting
    // the same division-free [p/2, 2p] band flags as w9. Waves stage by
    // DAY RANGE (a day never splits across batches, so batch-local day
    // totals are complete — the s17 staging discipline); the per-key
    // grid runs first-observed-day → last-observed-day. The oracle
    // replays the per-key grid, all 8 lag terms, and the flag census.
    Q("s18_stream_anomaly",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
        val base = t(s, dir, "events")
        val slim = base.select($"event_type",
          expr("unix_timestamp(ts) div 86400").as("day"),
          quant($"value", 100).as("cq"))
        val tmpRoot = java.nio.file.Files.createTempDirectory("graft_s18_")
        val inDir = tmpRoot.resolve("in"); java.nio.file.Files.createDirectories(inDir)
        def writeWave(df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
          val stage = tmpRoot.resolve(s"stage$k").toString
          df.coalesce(1).write.parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = inDir.resolve(s"wave$k.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          dst.toFile.setLastModified(1700000000000L + k * 60000L)
        }
        val b = slim.agg(min($"day").as("lo"), max($"day").as("hi")).head()
        val (dlo, dhi) = (b.getLong(0), b.getLong(1))
        val (d1, d2) = (dlo + (dhi - dlo) / 3, dlo + 2 * ((dhi - dlo) / 3))
        writeWave(slim.filter($"day" < d1), 1)
        writeWave(slim.filter($"day" >= d1 && $"day" < d2), 2)
        writeWave(slim.filter($"day" >= d2), 3)
        val queryName = "graft_anom_" + java.util.UUID.randomUUID.toString.replace("-", "")
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = s.readStream.schema(slim.schema)
            .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
            .as[(String, Long, Long)]
            .groupByKey(_._1)
            .flatMapGroupsWithState[(Long, Seq[Long]),
                                    (String, Long, Long, Long, Long, Long, Long)](
              OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, rows, state) =>
              val byDay = rows.toSeq.groupBy(_._2)
                .map { case (d, rs) => d -> rs.map(_._3).sum }
              if (byDay.isEmpty) Iterator.empty
              else {
                val maxDay = byDay.keys.max
                var (lastDay, ring) =
                  state.getOption.getOrElse((byDay.keys.min - 1, Seq.empty[Long]))
                val out = Seq.newBuilder[(String, Long, Long, Long, Long, Long, Long)]
                var d = lastDay + 1
                while (d <= maxDay) {
                  val c = byDay.getOrElse(d, 0L)
                  val p256 = ring.zipWithIndex
                    .map { case (v, i) => v * (1L << (7 - i)) }.sum
                  val hi = if (c * 255L > p256 * 2L) 1L else 0L
                  val lo = if (c * 255L * 2L < p256) 1L else 0L
                  out += ((key, d, c, p256, hi, lo, math.abs(c * 255L - p256)))
                  ring = (c +: ring).take(8)
                  d += 1
                }
                state.update((maxDay, ring))
                out.result().iterator
              }
            }
            .toDF("event_type", "day", "c", "p256", "hi", "lo", "dev")
            .writeStream.outputMode("append")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        s.table(queryName)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_days"), sum($"hi").as("n_hi"), sum($"lo").as("n_lo"),
               coalesce(min(when($"hi" === 1L || $"lo" === 1L, $"day")), lit(-1L))
                 .as("first_anom"),
               max($"dev").as("max_dev"))
          .orderBy($"event_type")
      },
      Some("""WITH obs AS (SELECT event_type, epoch(ts)::BIGINT // 86400 AS day,
             |          sum(CAST(floor(value*100+0.5) AS BIGINT)) AS cents
             |        FROM events GROUP BY 1, 2),
             |b AS (SELECT event_type, min(day) AS lo, max(day) AS hi
             |      FROM obs GROUP BY 1),
             |grid AS (SELECT b.event_type,
             |           CAST(unnest(range(b.lo, b.hi + 1)) AS BIGINT) AS day
             |         FROM b),
             |f AS (SELECT g.event_type, g.day, coalesce(o.cents, 0) AS c
             |      FROM grid g LEFT JOIN obs o
             |        ON g.event_type = o.event_type AND g.day = o.day),
             |e AS (SELECT event_type, day, c,
             |        coalesce(lag(c, 1) OVER w, 0) * 128 + coalesce(lag(c, 2) OVER w, 0) * 64
             |        + coalesce(lag(c, 3) OVER w, 0) * 32 + coalesce(lag(c, 4) OVER w, 0) * 16
             |        + coalesce(lag(c, 5) OVER w, 0) * 8 + coalesce(lag(c, 6) OVER w, 0) * 4
             |        + coalesce(lag(c, 7) OVER w, 0) * 2 + coalesce(lag(c, 8) OVER w, 0) AS p256
             |      FROM f WINDOW w AS (PARTITION BY event_type ORDER BY day)),
             |a AS (SELECT event_type, day, c, p256,
             |        abs(c * 255 - p256) AS dev,
             |        CASE WHEN c * 255 > p256 * 2 THEN 1 ELSE 0 END AS hi,
             |        CASE WHEN c * 255 * 2 < p256 THEN 1 ELSE 0 END AS lo
             |      FROM e)
             |SELECT event_type, count(*) AS n_days,
             |  CAST(sum(hi) AS BIGINT) AS n_hi, CAST(sum(lo) AS BIGINT) AS n_lo,
             |  CAST(coalesce(min(CASE WHEN hi = 1 OR lo = 1 THEN day END), -1) AS BIGINT)
             |    AS first_anom,
             |  CAST(max(dev) AS BIGINT) AS max_dev
             |FROM a GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- W9: integer anomaly flags over the EWMA prediction — the
    // monitoring epilogue of the w6/w7/w8 family: the PRIOR-8-day
    // dyadic EWMA (weights 128..1, Σ=255 — w8's kernel shifted one day
    // so the current value never predicts itself) is the forecast, and
    // a day is anomalous when the observed value leaves the [p/2, 2p]
    // band — all INTEGER cross-multiplications (c·255 vs 2·p256), no
    // division anywhere, so any engine replays the flags bit-for-bit.
    // Early days with no history predict 0 and flag high on first
    // activity (deterministic, replayed). Windows key by event_type;
    // composed over w7's gap-filled grid inside the same plan.
    Q("w9_anomaly",
      (s, dir) => {
        import s.implicits._
        val obs = t(s, dir, "events")
          .groupBy($"event_type", expr("unix_timestamp(ts) div 86400").as("day"))
          .agg(sum(quant($"value", 100)).as("cents"))
        val filled = graft.ops.GapFill.forwardFill(obs, "event_type", "day", "cents")
          .select($"event_type", $"day",
            when($"filled" === 0, $"v").otherwise(lit(0L)).as("c"))
        val w = Window.partitionBy($"event_type").orderBy($"day")
        val p256 = (1 to 8).map(j =>
          coalesce(lag($"c", j).over(w), lit(0L)) * lit(1L << (8 - j))).reduce(_ + _)
        filled.withColumn("p256", p256)
          .withColumn("dev", abs($"c" * 255L - $"p256"))
          .withColumn("hi", ($"c" * 255L > $"p256" * 2L).cast("long"))
          .withColumn("lo", ($"c" * 255L * 2L < $"p256").cast("long"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_days"), sum($"hi").as("n_hi"), sum($"lo").as("n_lo"),
               coalesce(min(when($"hi" === 1L || $"lo" === 1L, $"day")), lit(-1L))
                 .as("first_anom"),
               max($"dev").as("max_dev"))
          .orderBy($"event_type")
      },
      Some("""WITH obs AS (SELECT event_type, epoch(ts)::BIGINT // 86400 AS day,
             |          sum(CAST(floor(value*100+0.5) AS BIGINT)) AS cents
             |        FROM events GROUP BY 1, 2),
             |b AS (SELECT min(day) AS lo, max(day) AS hi FROM obs),
             |grid AS (SELECT k.event_type, CAST(unnest(range(b.lo, b.hi + 1)) AS BIGINT) AS day
             |         FROM (SELECT DISTINCT event_type FROM obs) k CROSS JOIN b),
             |f AS (SELECT g.event_type, g.day, coalesce(o.cents, 0) AS c
             |      FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.day = o.day),
             |e AS (SELECT event_type, day, c,
             |        coalesce(lag(c, 1) OVER w, 0) * 128 + coalesce(lag(c, 2) OVER w, 0) * 64
             |        + coalesce(lag(c, 3) OVER w, 0) * 32 + coalesce(lag(c, 4) OVER w, 0) * 16
             |        + coalesce(lag(c, 5) OVER w, 0) * 8 + coalesce(lag(c, 6) OVER w, 0) * 4
             |        + coalesce(lag(c, 7) OVER w, 0) * 2 + coalesce(lag(c, 8) OVER w, 0) AS p256
             |      FROM f WINDOW w AS (PARTITION BY event_type ORDER BY day)),
             |a AS (SELECT event_type, day, c, p256,
             |        abs(c * 255 - p256) AS dev,
             |        CASE WHEN c * 255 > p256 * 2 THEN 1 ELSE 0 END AS hi,
             |        CASE WHEN c * 255 * 2 < p256 THEN 1 ELSE 0 END AS lo
             |      FROM e)
             |SELECT event_type, count(*) AS n_days,
             |  CAST(sum(hi) AS BIGINT) AS n_hi, CAST(sum(lo) AS BIGINT) AS n_lo,
             |  CAST(coalesce(min(CASE WHEN hi = 1 OR lo = 1 THEN day END), -1) AS BIGINT)
             |    AS first_anom,
             |  CAST(max(dev) AS BIGINT) AS max_dev
             |FROM a GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- J11: linear-interpolation as-of join (AsOfJoin.interpolate)
    // — the feature-pipeline join pandas spells merge_asof+interp: each
    // purchase gets the click VALUE linearly interpolated between the
    // user's bracketing clicks, v(t) = (vb·(tf−t) + vf·(t−tb))/(tf−tb)
    // in integer micro-units via DECIMAL(38,0) (symmetric form keeps the
    // numerator non-negative so trunc and floor division agree across
    // engines). Same single-shuffle tagged-union plan as j6/j7; boundary
    // rows extrapolate flat. The oracle brackets with two DuckDB ASOF
    // joins (backward >=, strict forward <; equal-time clicks dedupe to
    // max event_id backward / min forward — the engine's sort order) and
    // replays the HUGEINT lerp bit-for-bit.
    Q("j11_asof_lerp",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .withColumn("tm", unix_micros($"ts"))
          .withColumn("vq", quant($"value", 100))
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"tm", $"event_id")
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id", $"tm", $"vq", $"event_id")
        graft.ops.AsOfJoin.interpolate(purchases, clicks,
            key = Seq("user_id"), time = "tm", valueQ = "vq",
            tiebreak = Seq("event_id"), outCol = "lerp_q")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_purch"),
               count($"lerp_q").as("n_matched"),
               sum(coalesce($"lerp_q", lit(0L))).as("sum_lerp_q"))
          .orderBy($"user_id")
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tm, event_type,
             |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq FROM events),
             |p AS (SELECT user_id, event_id, tm FROM e WHERE event_type = 'purchase'),
             |cb AS (SELECT user_id, tm, arg_max(vq, event_id) AS vq
             |       FROM e WHERE event_type = 'click' GROUP BY 1, 2),
             |cf AS (SELECT user_id, tm, arg_min(vq, event_id) AS vq
             |       FROM e WHERE event_type = 'click' GROUP BY 1, 2),
             |jb AS (SELECT p.user_id, p.event_id, p.tm, cb.tm AS tb, cb.vq AS vb
             |       FROM p ASOF LEFT JOIN cb
             |         ON p.user_id = cb.user_id AND p.tm >= cb.tm),
             |jf AS (SELECT p.user_id, p.event_id, cf.tm AS tf, cf.vq AS vf
             |       FROM p ASOF LEFT JOIN cf
             |         ON p.user_id = cf.user_id AND p.tm < cf.tm),
             |j AS (SELECT jb.user_id, jb.tm, jb.tb, jb.vb, jf.tf, jf.vf
             |      FROM jb JOIN jf
             |        ON jb.user_id = jf.user_id AND jb.event_id = jf.event_id),
             |l AS (SELECT user_id,
             |        CASE
             |          WHEN tb IS NOT NULL AND tf IS NOT NULL THEN
             |            (CAST(vb AS HUGEINT) * 1000000 * (tf - tm) +
             |             CAST(vf AS HUGEINT) * 1000000 * (tm - tb)) // (tf - tb)
             |          WHEN tb IS NOT NULL THEN CAST(vb AS HUGEINT) * 1000000
             |          WHEN tf IS NOT NULL THEN CAST(vf AS HUGEINT) * 1000000
             |        END AS lerp_q
             |      FROM j)
             |SELECT user_id, count(*) AS n_purch, count(lerp_q) AS n_matched,
             |  CAST(sum(COALESCE(lerp_q, 0)) AS BIGINT) AS sum_lerp_q
             |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R12: DSv2 statistics reporting (SupportsReportStatistics) —
    // the optimizer-facing third of the source beside pushdown (r5/r10)
    // and runtime filtering (r11): without reported stats a DSv2
    // relation defaults to an effectively-infinite sizeInBytes and a
    // planned-small tile scan joined to a fact table sort-merges BOTH
    // sides; with the work-list census reported (rows = planned reads,
    // bytes reflecting column pruning — a metadata projection is KBs),
    // Catalyst puts the tile side under a BroadcastHashJoin with NO
    // hint anywhere. The serving-path shape at 100 TB: "attach each
    // fact row to its tile's metadata" must broadcast the work-list,
    // never shuffle the fact table. The broadcast choice is
    // plan-asserted (TileSourceV2Spec); here the JOIN RESULT is
    // oracle-gated: per band, supplier rows × planned tiles and the
    // window-pixel totals replay from the 10-scene fixture geometry.
    Q("r12_dsv2_stats",
      (s, dir) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds}
        import graft.stac.{Prepare, PrepareOptions, StacAsset, StacItem}
        val items = (0 until 10).map { i =>
          val off = (i % 3) * 1280.0
          StacItem(s"scene-$i", Some(f"2024-06-${i + 1}%02dT10:00:00Z"), epsg = Some(32633),
            assets = Seq("red", "green", "nir").map { band =>
              band -> StacAsset(s"fake://$band/$i",
                bbox = Some(Bounds(399960 + off, 4990200 - off, 399960 + off + 2560, 4990200 - off + 2560)),
                shape = Some((256, 256)),
                transform = Some(AffineTransform.northUp(399960 + off, 4990200 - off + 2560, 10.0, 10.0)))
            }.toMap)
        }
        val plan = Prepare(items, PrepareOptions(assets = Some(Seq("red", "green", "nir"))))
        val tiles = graft.scan.v2.TileSourceV2.scan(s, plan.assetTable, plan.spec, chunk = 256)
        val sup = t(s, dir, "supplier").select(
          element_at(array(lit("red"), lit("green"), lit("nir")),
            (pmod($"s_suppkey", lit(3)) + 1).cast("int")).as("band"))
        // no broadcast() hint: the scan's reported statistics decide
        sup.join(tiles.select($"band", ($"height" * $"width").as("pxn")), Seq("band"))
          .groupBy($"band")
          .agg(count(lit(1)).as("n_pairs"), sum($"pxn").as("px_sum"))
          .orderBy($"band")
      },
      Some("""WITH sc AS (SELECT CAST(i AS INT) AS i, (i % 3) * 128 AS o FROM range(0,10) t(i)),
             |px AS (SELECT r, c FROM range(0,512) t(r) CROSS JOIN range(0,512) u(c)),
             |hits AS (SELECT s.i, r, c FROM px JOIN sc s
             |         ON r >= s.o AND r < s.o+256 AND c >= s.o AND c < s.o+256),
             |tl AS (SELECT (SELECT count(*) FROM
             |                (SELECT DISTINCT i, r//256, c//256 FROM hits)) AS n_tiles,
             |              (SELECT count(*) FROM hits) AS px_total),
             |lb AS (SELECT CASE s_suppkey % 3 WHEN 0 THEN 'red' WHEN 1 THEN 'green'
             |              ELSE 'nir' END AS band, count(*) AS nsup
             |       FROM supplier GROUP BY 1)
             |SELECT lb.band, CAST(lb.nsup * tl.n_tiles AS BIGINT) AS n_pairs,
             |  CAST(lb.nsup * tl.px_total AS BIGINT) AS px_sum
             |FROM lb CROSS JOIN tl ORDER BY lb.band""".stripMargin)),

    // ----- M11: ViT-style patch extraction (Dosovitskiy et al. 2021's
    // pre-projection step) over the m2 fixture rasters: REAL ImageIO
    // PNG decode, then the ⌊h/8⌋×⌊w/8⌋ full-patch grid with per-patch
    // integer sums — the batch shape a patch-embedding UDF feeds. Gray
    // samples round-trip exactly (m2), so the oracle recomputes every
    // patch sum from the text layout (wd = n%64+1 row-major raster,
    // zero padding), including the row-major argmax with smallest-index
    // tiebreak and the all-padding zero-patch census.
    Q("m11_patch_grid",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.{ImageCodec, Patches, PngFixtureCache}
        PngFixtureCache.pngTable(s, dir)
          .select($"doc_id", $"png_var")
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            it.map { case (id, png) =>
              val (w, h, px) = ImageCodec.decodeGrayPng(png)
              val (nPr, nPc, total, mx, am, nz) = Patches.patchStats(px, w, h, p = 8)
              (id, nPr, nPc, total, mx, am, nz)
            }
          }.toDF("doc_id", "n_pr", "n_pc", "patch_sum", "max_patch",
                 "argmax_patch", "n_zero")
          .orderBy($"doc_id")
      },
      Some("""WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n,
             |        octet_length(encode(text)) % 64 + 1 AS wd
             |      FROM documents),
             |pp AS (SELECT doc_id, text, n, wd,
             |         CAST(greatest((n + wd - 1) // wd, 1) // 8 AS INT) AS npr,
             |         CAST(wd // 8 AS INT) AS npc
             |       FROM b),
             |cells AS (SELECT doc_id, text, n, npc,
             |        pr.v AS pr, pc.v AS pc,
             |        (pr.v*8 + i.v//8) * wd + pc.v*8 + i.v%8 AS idx
             |      FROM pp
             |      CROSS JOIN (SELECT CAST(unnest(range(0,8)) AS INT) AS v) pr
             |      CROSS JOIN (SELECT CAST(unnest(range(0,8)) AS INT) AS v) pc
             |      CROSS JOIN (SELECT CAST(unnest(range(0,64)) AS INT) AS v) i
             |      WHERE pr.v < npr AND pc.v < npc),
             |ps AS (SELECT doc_id, pr, pc, npc,
             |         sum(CASE WHEN idx < n THEN ord(text[idx + 1]) ELSE 0 END) AS s
             |       FROM cells GROUP BY 1, 2, 3, 4),
             |mx AS (SELECT doc_id, max(s) AS maxs FROM ps GROUP BY 1),
             |ag AS (SELECT ps.doc_id, sum(s) AS total, max(s) AS maxs,
             |         min(CASE WHEN s = mx.maxs THEN pr * npc + pc END) AS am,
             |         sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS nz
             |       FROM ps JOIN mx USING (doc_id) GROUP BY 1)
             |SELECT pp.doc_id, pp.npr AS n_pr, pp.npc AS n_pc,
             |  CAST(coalesce(ag.total, 0) AS BIGINT) AS patch_sum,
             |  CAST(coalesce(ag.maxs, 0) AS BIGINT) AS max_patch,
             |  CAST(coalesce(ag.am, -1) AS INT) AS argmax_patch,
             |  CAST(coalesce(ag.nz, 0) AS BIGINT) AS n_zero
             |FROM pp LEFT JOIN ag ON pp.doc_id = ag.doc_id
             |ORDER BY pp.doc_id""".stripMargin))
  )

  // ==========================================================================
  // Round 11: resampling breadth (cubic + mode — the categorical-raster
  // gap), PII redaction
  // ==========================================================================

  private lazy val roundEleven: Seq[Q] = Seq(

    // ----- R13: BICUBIC warp scan (Keys a=-1/2, the GDAL default) —
    // closes the resampling-breadth gap beyond nearest/bilinear
    // (reference WarpedVRT enum, `rio_reader.py:344-360`). The fixture
    // must be NONLINEAR: bicubic reproduces any linear field exactly, so
    // r8's ramp could not tell cubic from bilinear — ModRampReader's
    // (r²+c²) mod 251 can. Same 10 m spec over an 8 m source as r7/r8
    // puts every fractional offset on an exact eighth; Keys weights are
    // then dyadic with denominator 2^10, a 16-tap product-sum is dyadic
    // with denominator 2^20, and quantizing by 2^20 yields integers both
    // engines state bit-for-bit. The oracle replays center -> affine ->
    // floor(f-0.5) -> 4x4 tap grid -> Keys kernel term by term.
    Q("r13_warp_cubic",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds, RasterSpec}
        import graft.scan.{AssetRow, ModRampReader, TileScan, WarpedGridReader}
        val spec = RasterSpec(3857, Bounds(1344000.0, 5917000.0, 1346000.0, 5919000.0), 10.0, 10.0)
        val aTf = AffineTransform.northUp(1343800.0, 5918800.0, 8.0, 8.0) // 300x300 @8m
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp3857://a",
          1343800.0, 5916400.0, 1346200.0, 5918800.0, 1.0, 0.0, epsg = 3857))
        val tiles = TileScan.scan(s, assets, spec, chunk = 100,
          readerFor = _ => WarpedGridReader(ModRampReader(251), aTf, 3857, 300, 300, spec,
            graft.ops.Resampling.Cubic))
        tiles.flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 100 + t.rowOff + r
              val gc = t.xChunk * 100 + t.colOff + c
              (t.yChunk, t.xChunk, (v * 1048576).toLong, gr.toLong * 200 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,200) t(r) CROSS JOIN range(0,200) u(c)),
             |m AS (SELECT r, c,
             |        10.0*(c + 0.5) + 0.0*(r + 0.5) + 1344000.0 AS wx,
             |        0.0*(c + 0.5) + (-10.0)*(r + 0.5) + 5919000.0 AS wy
             |      FROM px),
             |f AS (SELECT r, c,
             |        (0.125*wx + 0.0*wy + (-167975.0)) - 0.5 AS gc,
             |        (0.0*wx + (-0.125)*wy + 739850.0) - 0.5 AS gr
             |       FROM m),
             |w AS (SELECT r, c,
             |        CAST(floor(gr) AS BIGINT) AS r0, CAST(floor(gc) AS BIGINT) AS c0,
             |        gr - floor(gr) AS tr, gc - floor(gc) AS tc
             |       FROM f
             |       WHERE floor(gr) >= 1 AND floor(gr) + 2 <= 299
             |         AND floor(gc) >= 1 AND floor(gc) + 2 <= 299),
             |taps AS (SELECT r, c, r0, c0, tr, tc, dr.o AS dr, dc.o AS dc
             |       FROM w CROSS JOIN range(-1,3) dr(o) CROSS JOIN range(-1,3) dc(o)),
             |tv AS (SELECT r, c,
             |    (CASE dr WHEN -1 THEN ((-0.5*tr + 1.0)*tr - 0.5)*tr
             |             WHEN 0  THEN (1.5*tr - 2.5)*tr*tr + 1.0
             |             WHEN 1  THEN ((-1.5*tr + 2.0)*tr + 0.5)*tr
             |             ELSE (0.5*tr - 0.5)*tr*tr END)
             |  * (CASE dc WHEN -1 THEN ((-0.5*tc + 1.0)*tc - 0.5)*tc
             |             WHEN 0  THEN (1.5*tc - 2.5)*tc*tc + 1.0
             |             WHEN 1  THEN ((-1.5*tc + 2.0)*tc + 0.5)*tc
             |             ELSE (0.5*tc - 0.5)*tc*tc END)
             |  * CAST(((r0+dr)*(r0+dr) + (c0+dc)*(c0+dc)) % 251 AS DOUBLE) AS term
             |       FROM taps),
             |v AS (SELECT r, c, sum(term) AS bv FROM tv GROUP BY 1, 2),
             |q AS (SELECT r, c, CAST(bv*1048576 AS BIGINT) AS q FROM v)
             |SELECT CAST(r//100 AS INT) AS y_chunk, CAST(c//100 AS INT) AS x_chunk,
             |  count(*) AS n_px,
             |  CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*200 + c)) AS BIGINT) AS pos_chk
             |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- R14: MODE (majority-vote) warp scan — the categorical-raster
    // resampling a land-cover / mask user needs: class ids must be VOTED,
    // never interpolated (the mean of water=1 and urban=3 is "forest=2").
    // Each output pixel's 4 grid corners map through the affine to a
    // source-grid box; source pixels whose CENTERS land in the half-open
    // box vote, ties resolve to the smallest class id, empty box = nodata.
    // The 10m/8m fixture makes every box edge dyadic-exact, so the
    // half-open membership test is bit-identical in both engines; the
    // 1.25-px box spans at most 2 centers per axis, which the oracle
    // enumerates with a bounded delta join (no generate_series-on-column
    // dependence). CategoricalReader's 7x9-pixel plateaus of 5 classes
    // put ties and plateau boundaries inside the grid.
    Q("r14_warp_mode",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds, RasterSpec}
        import graft.scan.{AssetRow, CategoricalReader, TileScan, WarpedGridReader}
        val spec = RasterSpec(3857, Bounds(1344000.0, 5917000.0, 1346000.0, 5919000.0), 10.0, 10.0)
        val aTf = AffineTransform.northUp(1343800.0, 5918800.0, 8.0, 8.0) // 300x300 @8m
        val assets = Seq(AssetRow(0, 0, "class", 0L, "cat3857://a",
          1343800.0, 5916400.0, 1346200.0, 5918800.0, 1.0, 0.0, epsg = 3857))
        val tiles = TileScan.scan(s, assets, spec, chunk = 100,
          readerFor = _ => WarpedGridReader(CategoricalReader(7, 9, 5), aTf, 3857, 300, 300, spec,
            graft.ops.Resampling.Mode))
        tiles.flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 100 + t.rowOff + r
              val gc = t.xChunk * 100 + t.colOff + c
              (t.yChunk, t.xChunk, v.toLong, gr.toLong * 200 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,200) t(r) CROSS JOIN range(0,200) u(c)),
             |b AS (SELECT r, c,
             |        0.125*(10.0*c + 1344000.0) + (-167975.0) AS lox,
             |        0.125*(10.0*(c+1) + 1344000.0) + (-167975.0) AS hix,
             |        (-0.125)*((-10.0)*r + 5919000.0) + 739850.0 AS loy,
             |        (-0.125)*((-10.0)*(r+1) + 5919000.0) + 739850.0 AS hiy
             |      FROM px),
             |k AS (SELECT r, c,
             |        greatest(CAST(ceil(lox - 0.5) AS BIGINT), 0) AS k0c,
             |        least(CAST(ceil(hix - 0.5) AS BIGINT) - 1, 299) AS k1c,
             |        greatest(CAST(ceil(loy - 0.5) AS BIGINT), 0) AS k0r,
             |        least(CAST(ceil(hiy - 0.5) AS BIGINT) - 1, 299) AS k1r
             |      FROM b),
             |cand AS (SELECT r, c, k0r + dr.o AS kr, k0c + dc.o AS kc
             |      FROM k CROSS JOIN range(0,2) dr(o) CROSS JOIN range(0,2) dc(o)
             |      WHERE k0r + dr.o <= k1r AND k0c + dc.o <= k1c),
             |votes AS (SELECT r, c, ((kr//7 + kc//9) % 5) AS vv, count(*) AS cnt
             |      FROM cand GROUP BY 1, 2, 3),
             |pick AS (SELECT r, c, vv,
             |        row_number() OVER (PARTITION BY r, c ORDER BY cnt DESC, vv ASC) AS rn
             |      FROM votes)
             |SELECT CAST(r//100 AS INT) AS y_chunk, CAST(c//100 AS INT) AS x_chunk,
             |  count(*) AS n_px,
             |  CAST(sum(vv) AS BIGINT) AS sum_q,
             |  CAST(sum(vv * (r*200 + c)) AS BIGINT) AS pos_chk
             |FROM pick WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- T27: PII redaction (text.Pii.scrub) — the compliance pass
    // before text leaves curation: emails / IPv4s / phone numbers to
    // typed placeholders, per-type counts, zero shuffle until the final
    // census. The fixture text is clean, so the query MANUFACTURES
    // deterministic PII from doc_id (the t26 build-then-scrub
    // discipline): every doc gains one email, one IP, one phone whose
    // digits vary per doc. The patterns use only the Java∩RE2 regex
    // subset, so DuckDB replays detection exactly; md5 lo/hi pin the
    // fully-redacted strings, counts pin detection (natural-text
    // accidental matches included identically on both sides).
    Q("t27_pii_scrub",
      (s, dir) => {
        import s.implicits._
        val dirty = concat($"text",
          lit(" Contact u"), $"doc_id".cast("string"),
          lit("@mail.example.com or call 555-"),
          lpad(($"doc_id" % 1000).cast("string"), 3, "0"),
          lit("-0199 from 10."), ($"doc_id" % 256).cast("string"), lit(".0.77."))
        val base = t(s, dir, "documents").withColumn("text", dirty)
        graft.text.Pii.scrub(base, "text")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
               sum($"n_email").cast("long").as("sum_email"),
               sum($"n_ip").cast("long").as("sum_ip"),
               sum($"n_phone").cast("long").as("sum_phone"),
               sum(length($"text")).cast("long").as("sum_len"),
               min(md5($"text")).as("md5_lo"), max(md5($"text")).as("md5_hi"))
          .orderBy($"source")
      },
      Some("""WITH d AS (SELECT source,
             |    text || ' Contact u' || doc_id || '@mail.example.com or call 555-' ||
             |    lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-0199 from 10.' ||
             |    (doc_id % 256) || '.0.77.' AS t0
             |  FROM documents),
             |c AS (SELECT source,
             |    len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
             |    len(regexp_extract_all(t0, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni,
             |    len(regexp_extract_all(t0, '\d{3}[- ]\d{3}[- ]\d{4}')) AS np,
             |    regexp_replace(regexp_replace(regexp_replace(t0,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
             |      '\d{3}[- ]\d{3}[- ]\d{4}', '[PHONE]', 'g') AS clean
             |  FROM d)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(ne) AS BIGINT) AS sum_email,
             |  CAST(sum(ni) AS BIGINT) AS sum_ip,
             |  CAST(sum(np) AS BIGINT) AS sum_phone,
             |  CAST(sum(length(clean)) AS BIGINT) AS sum_len,
             |  min(md5(clean)) AS md5_lo, max(md5(clean)) AS md5_hi
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T28: RAG sliding-window chunking (text.Chunk.slidingWindows)
    // — the retrieval-side segmentation in front of every embedding
    // pipeline: 40-token windows every 30 tokens, trailing partials
    // kept, every doc ≥ 1 chunk. Map-side explosion, NO shuffle until
    // the census; output volume is exactly Σ ceil(n_tok/30), bounded a
    // priori by the stride. The oracle replays split → starts → clamped
    // slices; md5 lo/hi pin the chunk strings, so window offsets, the
    // clamp, and the re-join are all hash-gated.
    Q("t28_rag_chunks",
      (s, dir) => {
        import s.implicits._
        graft.text.Chunk.slidingWindows(t(s, dir, "documents"), "text", win = 40, stride = 30)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_chunks"),
               sum($"chunk_ntok").cast("long").as("sum_ntok"),
               max($"chunk_idx").cast("int").as("max_idx"),
               min(md5($"chunk_text")).as("md5_lo"), max(md5($"chunk_text")).as("md5_hi"))
          .orderBy($"source")
      },
      Some("""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
             |st AS (SELECT doc_id, source, ts, r.x AS s
             |       FROM tok JOIN range(0, 100000, 30) r(x) ON r.x <= len(ts) - 1),
             |ch AS (SELECT source, CAST(s // 30 AS INT) AS chunk_idx,
             |         least(len(ts) - s, 40) AS ntok,
             |         array_to_string(list_slice(ts, s + 1, s + 40), ' ') AS ctext
             |       FROM st)
             |SELECT source, count(*) AS n_chunks,
             |  CAST(sum(ntok) AS BIGINT) AS sum_ntok,
             |  CAST(max(chunk_idx) AS INT) AS max_idx,
             |  min(md5(ctext)) AS md5_lo, max(md5(ctext)) AS md5_hi
             |FROM ch GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T29: URL canonicalization (text.Url) — the crawl-frontier
    // normalization behind URL-level dedup and per-domain stats. The
    // fixture manufactures crawl-dirty URLs from doc_id (mixed-case
    // scheme/host, www, default port on half the docs, utm params
    // around a real param, fragment), then canonicalizes; the per-source
    // census counts distinct registered domains (7 per source by
    // construction — case/www/port variants MUST collapse) and pins the
    // full canonical strings by md5.
    Q("t29_url_canonical",
      (s, dir) => {
        import s.implicits._
        val dirty = concat(
          when($"doc_id" % 2 === 0, lit("HTTP://WWW.")).otherwise(lit("http://")),
          lit("Site"), ($"doc_id" % 7).cast("string"),
          lit(".Example"), ($"doc_id" % 7).cast("string"), lit(".COM"),
          when($"doc_id" % 4 === 0, lit(":80")).otherwise(lit("")),
          lit("/Docs/"), $"doc_id".cast("string"),
          lit("?utm_source=feed&page="), ($"doc_id" % 13).cast("string"),
          lit("&utm_campaign=c"), ($"doc_id" % 3).cast("string"),
          lit("#sec"), ($"doc_id" % 5).cast("string"))
        val canon = graft.text.Url.canonicalize(dirty)
        t(s, dir, "documents")
          .select($"source", canon.as("url"),
                  graft.text.Url.registeredDomain(canon).as("dom"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
               countDistinct($"dom").cast("long").as("n_domains"),
               sum(length($"url")).cast("long").as("sum_len"),
               min(md5($"url")).as("md5_lo"), max(md5($"url")).as("md5_hi"))
          .orderBy($"source")
      },
      Some("""WITH d AS (SELECT source,
             |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' ELSE 'http://' END) ||
             |    'Site' || (doc_id % 7) || '.Example' || (doc_id % 7) || '.COM' ||
             |    (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END) ||
             |    '/Docs/' || doc_id ||
             |    '?utm_source=feed&page=' || (doc_id % 13) ||
             |    '&utm_campaign=c' || (doc_id % 3) ||
             |    '#sec' || (doc_id % 5) AS u
             |  FROM documents),
             |s1 AS (SELECT source, regexp_replace(regexp_replace(regexp_replace(
             |    regexp_replace(u, '#.*$', ''),
             |    '&utm_[^&]*', '', 'g'), '\?utm_[^&]*&', '?'), '\?utm_[^&]*$', '') AS u
             |  FROM d),
             |s2 AS (SELECT source, u,
             |    coalesce(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*'), '') AS sh
             |  FROM s1),
             |s3 AS (SELECT source,
             |    regexp_replace(regexp_replace(
             |      regexp_replace(lower(sh), '://www\.', '://'),
             |      '^(http://[^/:]*):80$', '\1'), '^(https://[^/:]*):443$', '\1')
             |    || substr(u, len(sh) + 1) AS url
             |  FROM s2),
             |s4 AS (SELECT source, url,
             |    coalesce(regexp_extract(
             |      coalesce(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1), ''),
             |      '([^.]+\.[^.]+)$', 1), '') AS dom
             |  FROM s3)
             |SELECT source, count(*) AS n_docs,
             |  CAST(count(DISTINCT dom) AS BIGINT) AS n_domains,
             |  CAST(sum(len(url)) AS BIGINT) AS sum_len,
             |  min(md5(url)) AS md5_lo, max(md5(url)) AS md5_hi
             |FROM s4 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- V22: recall@k census (Ann.recallCensus) — the EVALUATION
    // member of index operation (build v14/v18, watch v20, filter v19,
    // evaluate THIS): per evaluation query, |served ∩ exact-L2-top-5|
    // and integer ppm recall. Ground truth is exact-search priced by
    // definition, so the census runs on the bounded query SAMPLE
    // (broadcast side), never the corpus — the corpus streams map-side
    // against it and the per-qid top-k window is the only exchange.
    // The oracle extends the shared IVF-SQ8 rank chain with a brute
    // exact-L2 top-5 and the set-intersection count, so the recall
    // numbers are gated end-to-end (index build included), not just
    // the final division.
    Q("v22_ann_recall",
      (s, dir) => {
        import s.implicits._
        import graft.ann.Ann
        val prepared = Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
        val idx = Ann.ivfSqBuild(prepared, kCells = 4, coarseIters = 1)
        val queries = prepared.filter($"id" % 50 === 0)
        val served = Ann.ivfSqServe(idx, queries, nProbes = 2, k = 5)
        Ann.recallCensus(served, prepared, queries, k = 5).orderBy($"qid")
      },
      Some(ivfSqRankChain("") + """,
             |bd AS (SELECT qq.id AS qid, q.id AS nid,
             |         sum((qq.qv[d+1]-q.qv[d+1])*(qq.qv[d+1]-q.qv[d+1])) AS d2
             |       FROM qq CROSS JOIN q CROSS JOIN dim
             |       WHERE q.id <> qq.id GROUP BY 1, 2),
             |bk AS (SELECT qid, nid,
             |         row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS brk FROM bd),
             |bt AS (SELECT qid, nid FROM bk WHERE brk <= 5),
             |it AS (SELECT qid, nid FROM rk WHERE rk <= 5),
             |ov AS (SELECT bt.qid, count(it.nid) AS hits
             |       FROM bt LEFT JOIN it ON it.qid = bt.qid AND it.nid = bt.nid
             |       GROUP BY 1)
             |SELECT qid, CAST(hits AS BIGINT) AS n_hits,
             |  CAST(hits * 1000000 // 5 AS BIGINT) AS recall_ppm
             |FROM ov ORDER BY qid""".stripMargin)),

    // ----- X38: RAG corpus build — the round-11 text stages as ONE
    // composed plan (the x11/x21/x30 capstone discipline): crawl-dirty
    // construction (markup wrap + injected PII, doc_id-deterministic) →
    // markup scrub (t26's op) → PII redaction (t27's op) → per-source
    // calibrated quality cut on the CLEANED text (x37's quantileFilter)
    // → sliding-window chunking of survivors (t28's op) → exact
    // chunk-level dedup (d1's group shape, min-(doc,chunk) survivor).
    // Every stage is an individually-audited operator; this gates the
    // COMPOSITION end-to-end: one DuckDB chain replays construction →
    // scrub → redact → score → cut → chunk → dedup, md5-pinning the
    // surviving unique chunks. Map-side until the cut window; the dedup
    // group and the census are the only later shuffles.
    Q("x38_rag_corpus",
      (s, dir) => {
        import s.implicits._
        val html = concat(
          lit("<p id=\"d"), $"doc_id", lit("\"> <b>"), $"text",
          lit(" Contact u"), $"doc_id".cast("string"),
          lit("@mail.example.com or call 555-"),
          lpad(($"doc_id" % 1000).cast("string"), 3, "0"), lit("-0199.</b></p>"),
          when($"doc_id" % 3 === 0, lit("<br/>")).otherwise(lit("")))
        val clean = graft.text.Pii.redact(graft.text.Normalize.stripMarkup(html))
        val ntokD = size(split($"clean", " ")).cast("double")
        val ndist = size(array_distinct(split($"clean", " "))).cast("double")
        val quality = lit(0.4) * least(length($"clean") / 400.0, lit(1.0)) +
          lit(0.3) * least(ntokD / 80.0, lit(1.0)) + lit(0.3) * (ndist / ntokD)
        val scored = t(s, dir, "documents")
          .select($"doc_id", $"source", clean.as("clean"))
          .withColumn("score", quant(quality, 1000000L))
        val kept = graft.ops.Sample.quantileFilter(scored, "source", "score", $"doc_id", 3, 10)
        val chunks = graft.text.Chunk.slidingWindows(
          kept.select($"doc_id", $"source", $"clean"), "clean", win = 40, stride = 30)
        val rep = chunks
          .groupBy(md5($"chunk_text").as("h"))
          .agg(min(struct($"doc_id", $"chunk_idx", $"source", $"chunk_ntok", $"chunk_text")).as("r"))
          .select($"r.source".as("source"), $"r.chunk_ntok".as("ntok"), $"r.chunk_text".as("ct"))
        val cen0 = kept.groupBy($"source").agg(count(lit(1)).as("n_docs_kept"))
        val cen1 = chunks.groupBy($"source").agg(count(lit(1)).as("n_chunks"))
        val cen2 = rep.groupBy($"source").agg(count(lit(1)).as("n_unique"),
          sum($"ntok").cast("long").as("sum_ntok_unique"),
          min(md5($"ct")).as("md5_lo"), max(md5($"ct")).as("md5_hi"))
        cen0.join(cen1, Seq("source")).join(cen2, Seq("source")).orderBy($"source")
      },
      Some("""WITH h AS (SELECT doc_id, source,
             |    '<p id="d' || doc_id || '"> <b>' || text || ' Contact u' || doc_id ||
             |    '@mail.example.com or call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
             |    '-0199.</b></p>' || CASE WHEN doc_id % 3 = 0 THEN '<br/>' ELSE '' END AS html
             |  FROM documents),
             |c AS (SELECT doc_id, source, trim(regexp_replace(
             |    replace(replace(replace(replace(replace(replace(
             |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
             |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
             |    '\s+', ' ', 'g')) AS t1
             |  FROM h),
             |p AS (SELECT doc_id, source,
             |    regexp_replace(regexp_replace(regexp_replace(t1,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
             |      '\d{3}[- ]\d{3}[- ]\d{4}', '[PHONE]', 'g') AS clean
             |  FROM c),
             |sc AS (SELECT doc_id, source, clean, CAST(floor(
             |    (0.4*least(len(clean)/400.0, 1.0)
             |     + 0.3*least(len(string_split(clean,' '))/80.0, 1.0)
             |     + 0.3*(len(list_distinct(string_split(clean,' ')))::DOUBLE
             |            / len(string_split(clean,' '))))*1000000 + 0.5) AS BIGINT) AS score
             |  FROM p),
             |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rk,
             |        count(*) OVER (PARTITION BY source) AS n FROM sc),
             |k AS (SELECT doc_id, source, clean FROM r WHERE 10*rk <= 3*n),
             |tok AS (SELECT doc_id, source, string_split(clean, ' ') AS ts FROM k),
             |st AS (SELECT doc_id, source, ts, rr.x AS s0
             |       FROM tok JOIN range(0, 100000, 30) rr(x) ON rr.x <= len(ts) - 1),
             |ch AS (SELECT doc_id, source, CAST(s0 // 30 AS INT) AS cidx,
             |         least(len(ts) - s0, 40) AS ntok,
             |         array_to_string(list_slice(ts, s0 + 1, s0 + 40), ' ') AS ct
             |       FROM st),
             |uq AS (SELECT doc_id, source, cidx, ntok, ct FROM (
             |        SELECT *, row_number() OVER (PARTITION BY md5(ct) ORDER BY doc_id, cidx) AS urn
             |        FROM ch) WHERE urn = 1),
             |cen0 AS (SELECT source, count(*) AS n_docs_kept FROM k GROUP BY 1),
             |cen1 AS (SELECT source, count(*) AS n_chunks FROM ch GROUP BY 1),
             |cen2 AS (SELECT source, count(*) AS n_unique,
             |         CAST(sum(ntok) AS BIGINT) AS sum_ntok_unique,
             |         min(md5(ct)) AS md5_lo, max(md5(ct)) AS md5_hi FROM uq GROUP BY 1)
             |SELECT source, n_docs_kept, n_chunks, n_unique, sum_ntok_unique, md5_lo, md5_hi
             |FROM cen0 JOIN cen1 USING (source) JOIN cen2 USING (source) ORDER BY source""".stripMargin)),

    // ----- T30: langid EVALUATION — the confusion matrix t2 never
    // produced (t2 reports predicted-class counts only; the fixture's
    // `lang` column is ground truth nobody was grading against). Same
    // evaluate-the-operator discipline as v22 (ANN recall) and t15's
    // classifier matrix: per (true, predicted) cell, row count plus two
    // integer ppm shares — of_true_ppm (recall on the diagonal) and
    // of_pred_ppm (precision on the diagonal) — via exact long `div`
    // (never double division: ⌊a/b⌋ across engines). One groupBy plus
    // two census-sized windows.
    Q("t30_langid_eval",
      (s, dir) => {
        import s.implicits._
        val en = Seq("the", "a", "of", "and", "is")
        val es = Seq("el", "la", "de", "y", "es")
        val de = Seq("der", "die", "und", "das")
        val fr = Seq("le", "et", "les", "un")
        def score(set: Seq[String]) =
          size(filter(split($"text", " "), tok => tok.isInCollection(set)))
        val wT = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
        val wP = org.apache.spark.sql.expressions.Window.partitionBy($"lang_pred")
        t(s, dir, "documents")
          .withColumn("s_en", score(en)).withColumn("s_es", score(es))
          .withColumn("s_de", score(de)).withColumn("s_fr", score(fr))
          .withColumn("lang_pred",
            when($"s_en" + $"s_es" + $"s_de" + $"s_fr" === 0, "und")
              .when($"s_en" >= $"s_es" && $"s_en" >= $"s_de" && $"s_en" >= $"s_fr", "en")
              .when($"s_es" >= $"s_de" && $"s_es" >= $"s_fr", "es")
              .when($"s_de" >= $"s_fr", "de")
              .otherwise("fr"))
          .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
          .withColumn("n_true", sum($"n").over(wT))
          .withColumn("n_pred", sum($"n").over(wP))
          .withColumn("of_true_ppm", expr("(n * 1000000) div n_true"))
          .withColumn("of_pred_ppm", expr("(n * 1000000) div n_pred"))
          .drop("n_true", "n_pred")
          .orderBy($"lang", $"lang_pred")
      },
      Some("""WITH scored AS (
             |  SELECT lang,
             |         len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','is'))) AS s_en,
             |         len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','y','es'))) AS s_es,
             |         len(list_filter(string_split(text,' '), t -> t IN ('der','die','und','das'))) AS s_de,
             |         len(list_filter(string_split(text,' '), t -> t IN ('le','et','les','un'))) AS s_fr
             |  FROM documents),
             |pred AS (SELECT lang,
             |    CASE WHEN s_en+s_es+s_de+s_fr = 0 THEN 'und'
             |         WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
             |         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
             |         WHEN s_de >= s_fr THEN 'de'
             |         ELSE 'fr' END AS lang_pred
             |  FROM scored),
             |conf AS (SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2)
             |SELECT lang, lang_pred, n,
             |  CAST((n * 1000000) // sum(n) OVER (PARTITION BY lang) AS BIGINT) AS of_true_ppm,
             |  CAST((n * 1000000) // sum(n) OVER (PARTITION BY lang_pred) AS BIGINT) AS of_pred_ppm
             |FROM conf ORDER BY 1, 2""".stripMargin)),

    // ----- R15: WARC ingest round-trip (sources.Warc) — the container
    // format crawl corpora actually arrive in (Common Crawl's WARC/WET).
    // The query serializes the fixture as WARC/1.0 response records
    // (Content-Length in UTF-8 octets), writes them through the plain
    // text sink, re-ingests via the binaryFile scan + one imperative
    // framing pass per file, and censuses the parsed payloads. The
    // payloads embed an ADVERSARIAL record-header look-alike
    // ("WARC/1.0" + a fake Content-Length + blank lines) — only
    // length-driven framing survives it; any line-oriented parser would
    // split mid-payload and hash-diverge. The oracle derives the same
    // census from the source table directly: ingest must be lossless.
    Q("r15_warc_ingest",
      (s, dir) => {
        import s.implicits._
        val payload = concat($"text",
          lit("\nWARC/1.0 look-alike\r\nContent-Length: 0\n\n tail"))
        val url = concat(lit("http://crawl.example/doc/"), $"doc_id".cast("string"))
        val recs = graft.sources.Warc.toRecords(
          t(s, dir, "documents"), url, lit("2026-01-01T00:00:00Z"), payload)
        val tmp = java.nio.file.Files.createTempDirectory("graft_warc_").toString
        // gzip at rest — the .warc.gz form real archives ship; the
        // reader inflates by magic-byte detection before framing
        recs.write.mode("overwrite").option("compression", "gzip").text(tmp)
        graft.sources.Warc.read(s, tmp)
          .select(regexp_extract($"uri", "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
                  $"payload")
          .withColumn("bucket", ($"doc_id" % 7).cast("int"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_recs"),
               sum(octet_length($"payload")).cast("long").as("sum_octets"),
               sum($"doc_id").cast("long").as("id_sum"),
               min(md5($"payload")).as("md5_lo"), max(md5($"payload")).as("md5_hi"))
          .orderBy($"bucket")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    text || chr(10) || 'WARC/1.0 look-alike' || chr(13) || chr(10) ||
             |    'Content-Length: 0' || chr(10) || chr(10) || ' tail' AS payload
             |  FROM documents)
             |SELECT CAST(doc_id % 7 AS INT) AS bucket, count(*) AS n_recs,
             |  CAST(sum(strlen(payload)) AS BIGINT) AS sum_octets,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  min(md5(payload)) AS md5_lo, max(md5(payload)) AS md5_hi
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X41: robots.txt evaluation (text.Robots, RFC 9309 subset) —
    // the governance gate between crawl frontier and fetch: per-domain
    // robots bodies parse to (prefix, allow) rules map-side; evaluation
    // is ONE equi-join on the registered domain (rules-per-domain small
    // by construction — no pair space beyond urls × own-domain rules)
    // and a per-URL longest-match pick where Allow beats Disallow on
    // equal length (§2.2.2's least-restrictive tie-break). The fixture
    // gives every domain a Disallow that swallows its own id digit and
    // a longer Allow that carves back the doubled-digit prefix, so both
    // the longest-match rule and the no-match default are load-bearing;
    // comments, User-agent, Sitemap, and empty-Disallow lines must all
    // drop at parse time. The oracle replays rules, matching, and the
    // tie-break ordering.
    Q("x41_robots_filter",
      (s, dir) => {
        import s.implicits._
        val urls = t(s, dir, "documents")
          .select($"doc_id",
            concat(lit("http://site"), ($"doc_id" % 7).cast("string"),
              lit(".example"), ($"doc_id" % 7).cast("string"),
              lit(".com/Docs/"), $"doc_id".cast("string")).as("url"))
        val robots = (0 until 7).map { d =>
          (s"example$d.com",
           s"User-agent: *\n# crawl policy\nDisallow: /Docs/$d\nAllow: /Docs/$d$d\n" +
             (if (d == 5) "Disallow: /Docs/55\n" else "") +
             "Disallow:\nSitemap: https://example.test/map.xml")
        }.toDF("domain", "robots")
        val rules = graft.text.Robots.parseRules(robots, $"domain", $"robots")
        graft.text.Robots.evaluate(urls, $"url", rules)
          .groupBy(($"doc_id" % 7).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_urls"),
               sum(when($"allowed", 1L).otherwise(0L)).as("n_allowed"),
               sum(when(!$"allowed", $"doc_id").otherwise(0L)).cast("long").as("blocked_id_sum"))
          .orderBy($"bucket")
      },
      Some("""WITH u AS (SELECT doc_id, doc_id % 7 AS d, '/Docs/' || doc_id AS path
             |          FROM documents),
             |rules AS (
             |  SELECT t.d, '/Docs/' || t.d AS prefix, false AS allow FROM range(0,7) t(d)
             |  UNION ALL SELECT t.d, '/Docs/' || t.d || t.d, true FROM range(0,7) t(d)
             |  UNION ALL SELECT 5, '/Docs/55', false),
             |m AS (SELECT u.doc_id, u.d, r.prefix, r.allow
             |      FROM u LEFT JOIN rules r
             |        ON r.d = u.d AND starts_with(u.path, r.prefix)),
             |rk AS (SELECT doc_id, d, allow, row_number() OVER (
             |         PARTITION BY doc_id
             |         ORDER BY len(prefix) DESC NULLS LAST, allow DESC) AS rn
             |       FROM m),
             |v AS (SELECT doc_id, d, coalesce(allow, true) AS allowed
             |      FROM rk WHERE rn = 1)
             |SELECT CAST(d AS INT) AS bucket, count(*) AS n_urls,
             |  CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
             |  CAST(sum(CASE WHEN allowed THEN 0 ELSE doc_id END) AS BIGINT) AS blocked_id_sum
             |FROM v GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  // ==========================================================================
  // Round 12: average (box) warp resampling — the >2x downsample regime —
  // and the CDX-indexed crawl-archive path
  // ==========================================================================

  private lazy val roundTwelve: Seq[Q] = Seq(

    // ----- R16: AVERAGE (footprint-mean / box) warp scan — GDAL's
    // `average`, the correct kernel for the >2x DOWNSAMPLE regime that
    // SCALE.md flags as outside mode/cubic's contract: a 40 m output
    // over an 8 m source means each output cell covers a 5x5 block of
    // source pixels, of which nearest/bilinear/cubic sample a sliver
    // (aliasing); the box kernel averages the source pixels whose
    // CENTERS land in the half-open footprint box (mode's machinery,
    // mean instead of vote). The 40m/8m fixture keeps every box edge
    // dyadic-exact; output rows 0-4 sit wholly above the source (empty
    // footprint = nodata), interior boxes are full 5x5, so q =
    // round(mean*25) is the exact integer box SUM both engines state.
    Q("r16_warp_average",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds, RasterSpec}
        import graft.scan.{AssetRow, ModRampReader, TileScan, WarpedGridReader}
        val spec = RasterSpec(3857, Bounds(1344000.0, 5917000.0, 1346000.0, 5919000.0), 40.0, 40.0)
        val aTf = AffineTransform.northUp(1343800.0, 5918800.0, 8.0, 8.0) // 300x300 @8m
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp3857://a",
          1343800.0, 5916400.0, 1346200.0, 5918800.0, 1.0, 0.0, epsg = 3857))
        val tiles = TileScan.scan(s, assets, spec, chunk = 25,
          readerFor = _ => WarpedGridReader(ModRampReader(251), aTf, 3857, 300, 300, spec,
            graft.ops.Resampling.Average))
        tiles.flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 25 + t.rowOff + r
              val gc = t.xChunk * 25 + t.colOff + c
              (t.yChunk, t.xChunk, math.round(v * 25), gr.toLong * 50 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,50) t(r) CROSS JOIN range(0,50) u(c)),
             |b AS (SELECT r, c,
             |        0.125*(40.0*c + 1344000.0) + (-167975.0) AS lox,
             |        0.125*(40.0*(c+1) + 1344000.0) + (-167975.0) AS hix,
             |        (-0.125)*((-40.0)*r + 5919000.0) + 739850.0 AS loy,
             |        (-0.125)*((-40.0)*(r+1) + 5919000.0) + 739850.0 AS hiy
             |      FROM px),
             |k AS (SELECT r, c,
             |        greatest(CAST(ceil(lox - 0.5) AS BIGINT), 0) AS k0c,
             |        least(CAST(ceil(hix - 0.5) AS BIGINT) - 1, 299) AS k1c,
             |        greatest(CAST(ceil(loy - 0.5) AS BIGINT), 0) AS k0r,
             |        least(CAST(ceil(hiy - 0.5) AS BIGINT) - 1, 299) AS k1r
             |      FROM b),
             |cand AS (SELECT r, c, k0r + dr.o AS kr, k0c + dc.o AS kc
             |      FROM k CROSS JOIN range(0,5) dr(o) CROSS JOIN range(0,5) dc(o)
             |      WHERE k0r + dr.o <= k1r AND k0c + dc.o <= k1c),
             |q AS (SELECT r, c, CAST(sum((kr*kr + kc*kc) % 251) AS BIGINT) AS q
             |      FROM cand GROUP BY 1, 2)
             |SELECT CAST(r//25 AS INT) AS y_chunk, CAST(c//25 AS INT) AS x_chunk,
             |  count(*) AS n_px,
             |  CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*50 + c)) AS BIGINT) AS pos_chk
             |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- R17: LANCZOS-3 warp scan — the last member of the GDAL
    // WarpedVRT resampling enum (`rio_reader.py:344-360`): a 6x6
    // windowed-sinc gather, weights L(x)=sinc(x)sinc(x/3) normalized by
    // the 2D weight sum. Unlike cubic's dyadic-exact Keys terms, sin()
    // is transcendental — last-ulp libm differences between JVM and
    // DuckDB are real — so the parity contract quantizes at 1/256
    // (q = round(v*256)): accumulated cross-engine divergence is
    // ~1e-12, nine orders under the quantum, while the quantum still
    // pins the kernel (a bilinear or cubic impostor diverges in units).
    Q("r17_warp_lanczos",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds, RasterSpec}
        import graft.scan.{AssetRow, ModRampReader, TileScan, WarpedGridReader}
        val spec = RasterSpec(3857, Bounds(1344000.0, 5917000.0, 1346000.0, 5919000.0), 10.0, 10.0)
        val aTf = AffineTransform.northUp(1343800.0, 5918800.0, 8.0, 8.0) // 300x300 @8m
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp3857://a",
          1343800.0, 5916400.0, 1346200.0, 5918800.0, 1.0, 0.0, epsg = 3857))
        val tiles = TileScan.scan(s, assets, spec, chunk = 100,
          readerFor = _ => WarpedGridReader(ModRampReader(251), aTf, 3857, 300, 300, spec,
            graft.ops.Resampling.Lanczos))
        tiles.flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 100 + t.rowOff + r
              val gc = t.xChunk * 100 + t.colOff + c
              (t.yChunk, t.xChunk, math.round(v * 256), gr.toLong * 200 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,200) t(r) CROSS JOIN range(0,200) u(c)),
             |m AS (SELECT r, c,
             |        10.0*(c + 0.5) + 0.0*(r + 0.5) + 1344000.0 AS wx,
             |        0.0*(c + 0.5) + (-10.0)*(r + 0.5) + 5919000.0 AS wy
             |      FROM px),
             |f AS (SELECT r, c,
             |        (0.125*wx + 0.0*wy + (-167975.0)) - 0.5 AS gc,
             |        (0.0*wx + (-0.125)*wy + 739850.0) - 0.5 AS gr
             |       FROM m),
             |w AS (SELECT r, c,
             |        CAST(floor(gr) AS BIGINT) AS r0, CAST(floor(gc) AS BIGINT) AS c0,
             |        gr - floor(gr) AS tr, gc - floor(gc) AS tc
             |       FROM f
             |       WHERE floor(gr) >= 2 AND floor(gr) + 3 <= 299
             |         AND floor(gc) >= 2 AND floor(gc) + 3 <= 299),
             |taps AS (SELECT r, c, r0, c0,
             |        tr - dr.o AS xr, tc - dc.o AS xc, dr.o AS dr, dc.o AS dc
             |       FROM w CROSS JOIN range(-2,4) dr(o) CROSS JOIN range(-2,4) dc(o)),
             |tv AS (SELECT r, c,
             |    (CASE WHEN xr = 0 THEN 1.0
             |          ELSE 3.0*sin(pi()*xr)*sin(pi()*xr/3.0)/((pi()*xr)*(pi()*xr)) END)
             |  * (CASE WHEN xc = 0 THEN 1.0
             |          ELSE 3.0*sin(pi()*xc)*sin(pi()*xc/3.0)/((pi()*xc)*(pi()*xc)) END) AS wt,
             |    CAST(((r0+dr)*(r0+dr) + (c0+dc)*(c0+dc)) % 251 AS DOUBLE) AS val
             |       FROM taps),
             |v AS (SELECT r, c, sum(wt*val)/sum(wt) AS bv FROM tv GROUP BY 1, 2),
             |q AS (SELECT r, c, CAST(round(bv*256, 0) AS BIGINT) AS q FROM v)
             |SELECT CAST(r//100 AS INT) AS y_chunk, CAST(c//100 AS INT) AS x_chunk,
             |  count(*) AS n_px,
             |  CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*200 + c)) AS BIGINT) AS pos_chk
             |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- R18: CDX-indexed archive selection (sources.Cdx) — the
    // metadata-prunes-IO thesis applied to the crawl family: real
    // Common Crawl consumption filters the CDX capture index (urlkey /
    // timestamp / status / mime / offset / length / filename) FIRST and
    // touches only the matching records' archive byte ranges (the fetch
    // half is CdxSpec's corrupted-member trap; this query gates the
    // index half). Captures render to 11-field CDX lines, parse back
    // through the typed reader (round-trip = format contract), select
    // on status+mime+time, pass the RFC 9309 robots gate (x41's rules),
    // and census per archive file: records, exact bytes a fetch would
    // read, the offset span, and the SURT-key range — the work-list a
    // 100 TB crawl read is planned from. The oracle computes every
    // field (SURT key included) independently in SQL.
    Q("r18_cdx_pruned_select",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val caps = docs.select(
          concat(lit("http://site"), ($"doc_id" % 7).cast("string"), lit(".example"),
            ($"doc_id" % 7).cast("string"), lit(".com/Docs/"), $"doc_id".cast("string")).as("url"),
          concat(lit("2026010"), (($"doc_id" % 5) + 1).cast("string"), lit("000000")).as("ts"),
          when($"doc_id" % 3 =!= 0, "text/html").otherwise("text/plain").as("mime"),
          when($"doc_id" % 11 =!= 0, 200).otherwise(404).as("status"),
          md5($"text").as("digest"),
          ($"n_chars" + 200).cast("long").as("rec_length"),
          ($"doc_id" * 1000).cast("long").as("rec_offset"),
          concat(lit("crawl-"), ($"doc_id" % 4).cast("string"), lit(".warc.gz")).as("filename"))
        val lines = graft.sources.Cdx.toLines(caps, $"url", $"ts", $"mime",
          $"status", $"digest", $"rec_length", $"rec_offset", $"filename")
        val parsed = graft.sources.Cdx.parseLines(lines, $"line")
        val sel = parsed.filter($"status" === 200 && $"mime" === "text/html" &&
          $"ts" < "20260104")
        val robots = (0 until 7).map { d =>
          (s"example$d.com",
           s"User-agent: *\n# crawl policy\nDisallow: /Docs/$d\nAllow: /Docs/$d$d\n" +
             (if (d == 5) "Disallow: /Docs/55\n" else "") +
             "Disallow:\nSitemap: https://example.test/map.xml")
        }.toDF("domain", "robots")
        val rules = graft.text.Robots.parseRules(robots, $"domain", $"robots")
        graft.text.Robots.evaluate(sel, $"url", rules).filter($"allowed")
          .groupBy($"filename")
          .agg(count(lit(1)).as("n_recs"),
               sum($"rec_length").cast("long").as("bytes_to_read"),
               min($"rec_offset").cast("long").as("min_off"),
               max($"rec_offset").cast("long").as("max_off"),
               min($"urlkey").as("key_lo"), max($"urlkey").as("key_hi"))
          .orderBy($"filename")
      },
      Some("""WITH cap AS (
             |  SELECT doc_id, doc_id % 7 AS d,
             |    '/Docs/' || doc_id AS path,
             |    '2026010' || ((doc_id % 5) + 1) || '000000' AS ts,
             |    CASE WHEN doc_id % 3 != 0 THEN 'text/html' ELSE 'text/plain' END AS mime,
             |    CASE WHEN doc_id % 11 != 0 THEN 200 ELSE 404 END AS status,
             |    CAST(n_chars + 200 AS BIGINT) AS rec_length,
             |    CAST(doc_id * 1000 AS BIGINT) AS rec_offset,
             |    'crawl-' || (doc_id % 4) || '.warc.gz' AS filename
             |  FROM documents),
             |sel AS (SELECT * FROM cap
             |        WHERE status = 200 AND mime = 'text/html' AND ts < '20260104'),
             |rules AS (
             |  SELECT t.d, '/Docs/' || t.d AS prefix, false AS allow FROM range(0,7) t(d)
             |  UNION ALL SELECT t.d, '/Docs/' || t.d || t.d, true FROM range(0,7) t(d)
             |  UNION ALL SELECT 5, '/Docs/55', false),
             |m AS (SELECT s.doc_id, s.d, s.filename, s.rec_length, s.rec_offset,
             |             r.prefix, r.allow
             |      FROM sel s LEFT JOIN rules r
             |        ON r.d = s.d AND starts_with(s.path, r.prefix)),
             |rk AS (SELECT doc_id, d, filename, rec_length, rec_offset, allow,
             |         row_number() OVER (PARTITION BY doc_id
             |           ORDER BY len(prefix) DESC NULLS LAST, allow DESC) AS rn
             |       FROM m),
             |v AS (SELECT doc_id, d, filename, rec_length, rec_offset
             |      FROM rk WHERE rn = 1 AND coalesce(allow, true)),
             |k AS (SELECT *,
             |        'com,example' || d || ',site' || d || ')/docs/' || doc_id AS urlkey
             |      FROM v)
             |SELECT filename, count(*) AS n_recs,
             |  CAST(sum(rec_length) AS BIGINT) AS bytes_to_read,
             |  CAST(min(rec_offset) AS BIGINT) AS min_off,
             |  CAST(max(rec_offset) AS BIGINT) AS max_off,
             |  min(urlkey) AS key_lo, max(urlkey) AS key_hi
             |FROM k GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R19: STREAMING WARC ingest — r15's lossless round-trip
    // census through Warc.readStreaming, the O(record)-memory form the
    // inflate guard's message names: paths (not contents) flow through
    // Spark, each task opens its archive via the Hadoop FS API, stacks
    // a streaming gzip decoder (multi-member .warc.gz), and frames
    // records incrementally — at no point does more than one record sit
    // on a heap, so archive size is unbounded. Identical adversarial
    // payloads (header look-alikes), identical oracle: the two readers
    // must be indistinguishable to a consumer.
    Q("r19_warc_stream",
      (s, dir) => {
        import s.implicits._
        val payload = concat($"text",
          lit("\nWARC/1.0 look-alike\r\nContent-Length: 0\n\n tail"))
        val url = concat(lit("http://crawl.example/doc/"), $"doc_id".cast("string"))
        val recs = graft.sources.Warc.toRecords(
          t(s, dir, "documents"), url, lit("2026-01-01T00:00:00Z"), payload)
        val tmp = java.nio.file.Files.createTempDirectory("graft_warcs_").toString
        recs.write.mode("overwrite").option("compression", "gzip").text(tmp)
        graft.sources.Warc.readStreaming(s, tmp)
          .select(regexp_extract($"uri", "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
                  $"payload")
          .withColumn("bucket", ($"doc_id" % 7).cast("int"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_recs"),
               sum(octet_length($"payload")).cast("long").as("sum_octets"),
               sum($"doc_id").cast("long").as("id_sum"),
               min(md5($"payload")).as("md5_lo"), max(md5($"payload")).as("md5_hi"))
          .orderBy($"bucket")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    text || chr(10) || 'WARC/1.0 look-alike' || chr(13) || chr(10) ||
             |    'Content-Length: 0' || chr(10) || chr(10) || ' tail' AS payload
             |  FROM documents)
             |SELECT CAST(doc_id % 7 AS INT) AS bucket, count(*) AS n_recs,
             |  CAST(sum(strlen(payload)) AS BIGINT) AS sum_octets,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  min(md5(payload)) AS md5_lo, max(md5(payload)) AS md5_hi
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R20: indexed-archive END-TO-END — the full crawl-storage
    // loop with REAL byte offsets: documents render to per-record-gzip
    // .warc.gz archives + their CDX manifest in one pass
    // (Cdx.writeIndexedArchives), a doc_id predicate selects a third of
    // the captures FROM THE MANIFEST, and Cdx.fetch range-reads exactly
    // those members back (the other two thirds' bytes are never
    // touched — CdxSpec proves that with corrupted members; here the
    // whole loop is oracle-gated). The census must equal the oracle's
    // direct census over the filtered source table: storage round-trip
    // + index spans + range framing are all in the hash. The digest
    // check rides along: every fetched payload must md5-match its own
    // manifest row.
    Q("r20_cdx_fetch",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val url = concat(lit("urn:doc:"), $"doc_id".cast("string"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_cdxrt_").toString
        val caps = graft.sources.Cdx.writeIndexedArchives(
          docs, url, lit("20260101000000"), $"text", tmp).localCheckpoint(true)
        val sel = caps
          .withColumn("doc_id", regexp_extract($"url", "urn:doc:(\\d+)", 1).cast("long"))
          .filter($"doc_id" % 3 === 0)
        val fetched = graft.sources.Cdx.fetch(sel, tmp)
          .select(regexp_extract($"uri", "urn:doc:(\\d+)", 1).cast("long").as("doc_id"),
                  $"payload", $"filename", $"rec_offset")
        // digest audit: every fetched payload md5-matches its manifest row
        fetched.join(caps.select($"filename", $"rec_offset", $"digest"),
            Seq("filename", "rec_offset"))
          .withColumn("bucket", ($"doc_id" % 7).cast("int"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_recs"),
               sum(octet_length($"payload")).cast("long").as("sum_octets"),
               sum($"doc_id").cast("long").as("id_sum"),
               sum(when(md5($"payload") === $"digest", 1L).otherwise(0L)).as("n_digest_ok"),
               min(md5($"payload")).as("md5_lo"), max(md5($"payload")).as("md5_hi"))
          .orderBy($"bucket")
      },
      Some("""SELECT CAST(doc_id % 7 AS INT) AS bucket, count(*) AS n_recs,
             |  CAST(sum(strlen(text)) AS BIGINT) AS sum_octets,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  CAST(count(*) AS BIGINT) AS n_digest_ok,
             |  min(md5(text)) AS md5_lo, max(md5(text)) AS md5_hi
             |FROM documents WHERE doc_id % 3 = 0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- K10: BLOOM-filter membership prune (sketch.Bloom) — the
    // missing member of the sketch family and the classic 100 TB
    // pre-pass: build an m-bit / k-hash filter over the SEEN set (its
    // cardinality doesn't matter — the sketch is m bits), embed the
    // dense word array as a plan literal, and prune a corpus-sized scan
    // map-side (k bit-tests, zero joins) before any exact/expensive
    // check. Words hold 63 bits so no engine's checked BIGINT shift can
    // overflow — bit-exact replay everywhere. The census pins the two
    // laws: n_fn = 0 ALWAYS (one-sided error), n_fp small and exactly
    // reproduced (the same md5 positions → the same collisions in any
    // engine).
    Q("k10_bloom_prune",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.Bloom
        val docs = t(s, dir, "documents")
        val url = concat(lit("urn:doc:"), $"doc_id".cast("string"))
        val seen = docs.filter($"doc_id" % 5 === 0).select(url.as("u"))
        val bt = Bloom.table(seen, $"u", m = 8192, k = 3)
        val w = Bloom.words(bt, 8192)
        docs.select($"doc_id", $"source", url.as("u"))
          .withColumn("maybe", Bloom.mightContain($"u", w, 8192, 3))
          .withColumn("istrue", $"doc_id" % 5 === 0)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_probed"),
               sum(when($"maybe", 1L).otherwise(0L)).as("n_maybe"),
               sum(when($"istrue", 1L).otherwise(0L)).as("n_true"),
               sum(when($"maybe" && !$"istrue", 1L).otherwise(0L)).as("n_fp"),
               sum(when(!$"maybe" && $"istrue", 1L).otherwise(0L)).as("n_fn"))
          .orderBy($"source")
      },
      Some("""WITH ks AS (SELECT unnest([0, 1, 2]) AS j),
             |seen AS (SELECT 'urn:doc:' || doc_id AS u FROM documents
             |         WHERE doc_id % 5 = 0),
             |spos AS (SELECT ('0x' || substr(md5(ks.j || '|' || u), 1, 15))::BIGINT
             |                  % 8192 AS pos
             |         FROM seen CROSS JOIN ks),
             |wt AS (SELECT pos // 63 AS word_idx,
             |              bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS word
             |       FROM spos GROUP BY 1),
             |probe AS (SELECT doc_id, source, 'urn:doc:' || doc_id AS u FROM documents),
             |pp AS (SELECT doc_id, source,
             |         ('0x' || substr(md5(ks.j || '|' || u), 1, 15))::BIGINT
             |           % 8192 AS pos
             |       FROM probe CROSS JOIN ks),
             |hits AS (SELECT pp.doc_id, pp.source,
             |           sum(CASE WHEN w.word IS NOT NULL AND
             |                 (w.word & (1::BIGINT << CAST(pp.pos % 63 AS INT))) != 0
             |               THEN 1 ELSE 0 END) AS nbits
             |         FROM pp LEFT JOIN wt w ON w.word_idx = pp.pos // 63
             |         GROUP BY 1, 2),
             |mb AS (SELECT doc_id, source, (nbits = 3) AS maybe,
             |              (doc_id % 5 = 0) AS istrue
             |       FROM hits)
             |SELECT source, count(*) AS n_probed,
             |  CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
             |  CAST(sum(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
             |  CAST(sum(CASE WHEN maybe AND NOT istrue THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
             |  CAST(sum(CASE WHEN NOT maybe AND istrue THEN 1 ELSE 0 END) AS BIGINT) AS n_fn
             |FROM mb GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- D14: LSH recall census (Dedup.lshRecallCensus) — the
    // EVALUATE member of the dedup family, v22's ANN-recall twin: the
    // MEASURED S-curve. Exact all-pairs token-set Jaccard over a bounded
    // slice is the ground truth (recall evaluation is exact-search-
    // priced by definition — it runs on a slice, never the corpus);
    // candidates are the 8-hash/2-band pair space; the census buckets
    // truth pairs by Jaccard decile and states the per-bucket candidate
    // hit rate in exact ppm — the empirical form of
    // P[cand] = 1 − (1 − j^4)² that every (numHashes, rowsPerBand)
    // sizing decision reads off. The oracle replays signatures (string-
    // min md5), band keys, the pair spaces, and the integer div.
    Q("d14_lsh_recall",
      (s, dir) => {
        import s.implicits._
        val slice = t(s, dir, "documents").filter($"doc_id" % 3 === 0)
          .select($"doc_id", $"text")
        graft.dedup.Dedup.lshRecallCensus(slice, "doc_id", "text",
          numHashes = 8, rowsPerBand = 4, shingleN = 1)
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
             |sets AS MATERIALIZED (SELECT doc_id,
             |    list_distinct(list_transform(string_split(text, ' '),
             |      tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT)) AS st
             |  FROM d),
             |truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    len(list_intersect(a.st, b.st))::DOUBLE /
             |      (len(a.st) + len(b.st) - len(list_intersect(a.st, b.st))) AS j
             |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id),
             |toks AS (SELECT doc_id,
             |    unnest(list_distinct(string_split(text, ' '))) AS tok FROM d),
             |sig AS MATERIALIZED (SELECT doc_id,
             |    min(md5('0|' || tok)) AS h0, min(md5('1|' || tok)) AS h1,
             |    min(md5('2|' || tok)) AS h2, min(md5('3|' || tok)) AS h3,
             |    min(md5('4|' || tok)) AS h4, min(md5('5|' || tok)) AS h5,
             |    min(md5('6|' || tok)) AS h6, min(md5('7|' || tok)) AS h7
             |  FROM toks GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(h0 || h1 || h2 || h3) AS key FROM sig
             |  UNION ALL
             |  SELECT doc_id, 1, md5(h4 || h5 || h6 || h7) FROM sig),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
             |tagged AS (SELECT CAST(floor(t.j * 10) AS INT) AS jac_band,
             |    CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
             |  FROM truth t LEFT JOIN cand c
             |    ON t.id_a = c.id_a AND t.id_b = c.id_b
             |  WHERE t.j > 0)
             |SELECT jac_band, count(*) AS n_pairs,
             |  CAST(sum(hit) AS BIGINT) AS n_cand,
             |  CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS hit_ppm
             |FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T31: SENTENCE-window chunking (Chunk.bySentences) — t28's
    // RAG segmentation with sentences as the unit (never cuts
    // mid-sentence). The boundary split must be RE2-safe for the oracle
    // (no lookbehind), so it is a sentinel rewrite — terminator runs
    // keep their exact bytes inside their sentence, md5-pinned here.
    // Same contract as t28: trailing partials kept, every doc >= 1
    // address, map-side explosion with no shuffle until the census.
    Q("t31_sentence_chunks",
      (s, dir) => {
        import s.implicits._
        graft.text.Chunk.bySentences(t(s, dir, "documents"), "text", win = 3, stride = 2)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_chunks"),
               sum($"chunk_nsent").cast("long").as("sum_nsent"),
               max($"chunk_idx").cast("int").as("max_idx"),
               min(md5($"chunk_text")).as("md5_lo"), max(md5($"chunk_text")).as("md5_hi"))
          .orderBy($"source")
      },
      Some("""WITH sen AS (SELECT doc_id, source,
             |    string_split(regexp_replace(text, '([.!?]+) +', '\1' || chr(1), 'g'),
             |                 chr(1)) AS ss
             |  FROM documents),
             |st AS (SELECT source, ss, r.x AS s
             |       FROM sen JOIN range(0, 100000, 2) r(x) ON r.x <= len(ss) - 1),
             |ch AS (SELECT source, CAST(s // 2 AS INT) AS chunk_idx,
             |         least(len(ss) - s, 3) AS nsent,
             |         array_to_string(list_slice(ss, s + 1, s + 3), ' ') AS ctext
             |       FROM st)
             |SELECT source, count(*) AS n_chunks,
             |  CAST(sum(nsent) AS BIGINT) AS sum_nsent,
             |  CAST(max(chunk_idx) AS INT) AS max_idx,
             |  min(md5(ctext)) AS md5_lo, max(md5(ctext)) AS md5_hi
             |FROM ch GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X43: URL frontier capstone — the crawl-side governance
    // chain composed from audited operators, the way a real frontier
    // admits work: canonicalize crawl-dirty URLs (t29's fixture and
    // rules), prune already-seen pages with the BLOOM filter (k10 —
    // "definitely new" survives; a bloom false positive wrongly drops a
    // page, the documented trade, and the census exposes exactly how
    // many), then the RFC 9309 robots gate (x41's rules) decides
    // admission. Map-side end to end — the bloom words are a plan
    // literal, robots is one equi-join on the registered domain — until
    // the final census. The oracle replays canonicalization → bloom
    // words → k bit-tests → robots longest-match → the admitted set's
    // md5 range.
    Q("x43_url_frontier",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.Bloom
        val docs = t(s, dir, "documents")
        val dirty = concat(
          when($"doc_id" % 2 === 0, lit("HTTP://WWW.")).otherwise(lit("http://")),
          lit("Site"), ($"doc_id" % 7).cast("string"),
          lit(".Example"), ($"doc_id" % 7).cast("string"), lit(".COM"),
          when($"doc_id" % 4 === 0, lit(":80")).otherwise(lit("")),
          lit("/Docs/"), $"doc_id".cast("string"),
          lit("?utm_source=feed&page="), ($"doc_id" % 13).cast("string"),
          lit("&utm_campaign=c"), ($"doc_id" % 3).cast("string"),
          lit("#sec"), ($"doc_id" % 5).cast("string"))
        val base = docs.select($"doc_id", $"source",
          graft.text.Url.canonicalize(dirty).as("url"))
        val seen = base.filter($"doc_id" % 4 === 0).select($"url")
        val bt = Bloom.table(seen, $"url", m = 16384, k = 3)
        val w = Bloom.words(bt, 16384)
        val robots = (0 until 7).map { d =>
          (s"example$d.com",
           s"User-agent: *\n# crawl policy\nDisallow: /Docs/$d\nAllow: /Docs/$d$d\n" +
             (if (d == 5) "Disallow: /Docs/55\n" else "") +
             "Disallow:\nSitemap: https://example.test/map.xml")
        }.toDF("domain", "robots")
        val rules = graft.text.Robots.parseRules(robots, $"domain", $"robots")
        val flagged = base.withColumn("isnew",
          !Bloom.mightContain($"url", w, 16384, 3))
        graft.text.Robots.evaluate(flagged, $"url", rules)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_urls"),
               sum(when($"isnew", 1L).otherwise(0L)).as("n_new"),
               sum(when($"isnew" && $"allowed", 1L).otherwise(0L)).as("n_admitted"),
               min(when($"isnew" && $"allowed", md5($"url"))).as("md5_lo"),
               max(when($"isnew" && $"allowed", md5($"url"))).as("md5_hi"))
          .orderBy($"source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' ELSE 'http://' END) ||
             |    'Site' || (doc_id % 7) || '.Example' || (doc_id % 7) || '.COM' ||
             |    (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END) ||
             |    '/Docs/' || doc_id ||
             |    '?utm_source=feed&page=' || (doc_id % 13) ||
             |    '&utm_campaign=c' || (doc_id % 3) ||
             |    '#sec' || (doc_id % 5) AS u
             |  FROM documents),
             |s1 AS (SELECT doc_id, source, regexp_replace(regexp_replace(regexp_replace(
             |    regexp_replace(u, '#.*$', ''),
             |    '&utm_[^&]*', '', 'g'), '\?utm_[^&]*&', '?'), '\?utm_[^&]*$', '') AS u
             |  FROM d),
             |s2 AS (SELECT doc_id, source, u,
             |    coalesce(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*'), '') AS sh
             |  FROM s1),
             |s3 AS (SELECT doc_id, source,
             |    regexp_replace(regexp_replace(
             |      regexp_replace(lower(sh), '://www\.', '://'),
             |      '^(http://[^/:]*):80$', '\1'), '^(https://[^/:]*):443$', '\1')
             |    || substr(u, len(sh) + 1) AS url
             |  FROM s2),
             |ks AS (SELECT unnest([0, 1, 2]) AS j),
             |spos AS (SELECT ('0x' || substr(md5(ks.j || '|' || url), 1, 15))::BIGINT
             |           % 16384 AS pos
             |         FROM s3 CROSS JOIN ks WHERE doc_id % 4 = 0),
             |wt AS (SELECT pos // 63 AS word_idx,
             |              bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS word
             |       FROM spos GROUP BY 1),
             |pp AS (SELECT s3.doc_id,
             |         ('0x' || substr(md5(ks.j || '|' || url), 1, 15))::BIGINT
             |           % 16384 AS pos
             |       FROM s3 CROSS JOIN ks),
             |nb AS (SELECT pp.doc_id,
             |         sum(CASE WHEN w.word IS NOT NULL AND
             |               (w.word & (1::BIGINT << CAST(pp.pos % 63 AS INT))) != 0
             |             THEN 1 ELSE 0 END) AS nbits
             |       FROM pp LEFT JOIN wt w ON w.word_idx = pp.pos // 63
             |       GROUP BY 1),
             |nw AS (SELECT doc_id, (nbits < 3) AS isnew FROM nb),
             |rules AS (
             |  SELECT t.d, '/Docs/' || t.d AS prefix, false AS allow FROM range(0,7) t(d)
             |  UNION ALL SELECT t.d, '/Docs/' || t.d || t.d, true FROM range(0,7) t(d)
             |  UNION ALL SELECT 5, '/Docs/55', false),
             |m AS (SELECT s3.doc_id, r.prefix, r.allow
             |      FROM s3 LEFT JOIN rules r
             |        ON r.d = s3.doc_id % 7
             |       AND starts_with('/Docs/' || s3.doc_id, r.prefix)),
             |rk AS (SELECT doc_id, allow, row_number() OVER (PARTITION BY doc_id
             |         ORDER BY len(prefix) DESC NULLS LAST, allow DESC) AS rn
             |       FROM m),
             |alw AS (SELECT doc_id, coalesce(allow, true) AS allowed
             |        FROM rk WHERE rn = 1),
             |fin AS (SELECT s3.source, s3.url, nw.isnew, alw.allowed
             |        FROM s3 JOIN nw ON nw.doc_id = s3.doc_id
             |                JOIN alw ON alw.doc_id = s3.doc_id)
             |SELECT source, count(*) AS n_urls,
             |  CAST(sum(CASE WHEN isnew THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             |  CAST(sum(CASE WHEN isnew AND allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
             |  min(CASE WHEN isnew AND allowed THEN md5(url) END) AS md5_lo,
             |  max(CASE WHEN isnew AND allowed THEN md5(url) END) AS md5_hi
             |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R21: the FOOTPRINT-REDUCTION warp family (GDAL sum / min /
    // max / med / q1 / q3 / rms) — r16's box machinery with every
    // remaining reduce, closing the WarpedVRT resampling enum's
    // downsample side in one oracle row. Quantile convention is the
    // LOWER quantile (sorted ascending, index floor(q*(cnt-1))) — exact
    // integer indexing both engines state; rms = sqrt(sumsq/cnt) is
    // bit-exact cross-engine (single correctly-rounded division and
    // sqrt over exact integer sums). Same 40m/8m fixture: full 5x5
    // boxes, rows above the source = nodata.
    Q("r21_warp_footprint",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds, RasterSpec}
        import graft.ops.Resampling
        import graft.scan.{AssetRow, ModRampReader, TileScan, WarpedGridReader}
        val spec = RasterSpec(3857, Bounds(1344000.0, 5917000.0, 1346000.0, 5919000.0), 40.0, 40.0)
        val aTf = AffineTransform.northUp(1343800.0, 5918800.0, 8.0, 8.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp3857://a",
          1343800.0, 5916400.0, 1346200.0, 5918800.0, 1.0, 0.0, epsg = 3857))
        val kernels: Seq[(String, Resampling)] = Seq(
          "max" -> Resampling.Max, "med" -> Resampling.Med,
          "min" -> Resampling.Min, "q1" -> Resampling.Q1,
          "q3" -> Resampling.Q3, "rms" -> Resampling.Rms,
          "sum" -> Resampling.Sum)
        kernels.map { case (name, k) =>
          TileScan.scan(s, assets, spec, chunk = 25,
              readerFor = _ => WarpedGridReader(ModRampReader(251), aTf, 3857, 300, 300, spec, k))
            .flatMap { t =>
              for {
                r <- 0 until t.height; c <- 0 until t.width
                v = t.pixels(r * t.width + c) if !v.isNaN
              } yield {
                val gr = t.yChunk * 25 + t.rowOff + r
                val gc = t.xChunk * 25 + t.colOff + c
                (name, t.yChunk, t.xChunk, math.round(v * 256), gr.toLong * 50 + gc)
              }
            }
            .toDF("kernel", "y_chunk", "x_chunk", "q", "pos")
        }.reduce(_ unionByName _)
          .groupBy($"kernel", $"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"kernel", $"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,50) t(r) CROSS JOIN range(0,50) u(c)),
             |b AS (SELECT r, c,
             |        0.125*(40.0*c + 1344000.0) + (-167975.0) AS lox,
             |        0.125*(40.0*(c+1) + 1344000.0) + (-167975.0) AS hix,
             |        (-0.125)*((-40.0)*r + 5919000.0) + 739850.0 AS loy,
             |        (-0.125)*((-40.0)*(r+1) + 5919000.0) + 739850.0 AS hiy
             |      FROM px),
             |k AS (SELECT r, c,
             |        greatest(CAST(ceil(lox - 0.5) AS BIGINT), 0) AS k0c,
             |        least(CAST(ceil(hix - 0.5) AS BIGINT) - 1, 299) AS k1c,
             |        greatest(CAST(ceil(loy - 0.5) AS BIGINT), 0) AS k0r,
             |        least(CAST(ceil(hiy - 0.5) AS BIGINT) - 1, 299) AS k1r
             |      FROM b),
             |cand AS (SELECT r, c, k0r + dr.o AS kr, k0c + dc.o AS kc
             |      FROM k CROSS JOIN range(0,5) dr(o) CROSS JOIN range(0,5) dc(o)
             |      WHERE k0r + dr.o <= k1r AND k0c + dc.o <= k1c),
             |vals AS (SELECT r, c, CAST((kr*kr + kc*kc) % 251 AS DOUBLE) AS v FROM cand),
             |agg AS (SELECT r, c, sum(v) AS vsum, min(v) AS vmin, max(v) AS vmax,
             |          sqrt(sum(v*v)/count(*)) AS vrms,
             |          list_sort(list(v)) AS sv, count(*) AS cnt
             |        FROM vals GROUP BY 1, 2),
             |qx AS (SELECT r, c, kernel, CAST(round(val*256, 0) AS BIGINT) AS q FROM (
             |    SELECT r, c, 'sum' AS kernel, vsum AS val FROM agg
             |    UNION ALL SELECT r, c, 'min', vmin FROM agg
             |    UNION ALL SELECT r, c, 'max', vmax FROM agg
             |    UNION ALL SELECT r, c, 'rms', vrms FROM agg
             |    UNION ALL SELECT r, c, 'med', sv[CAST((cnt-1)//2 AS INT) + 1] FROM agg
             |    UNION ALL SELECT r, c, 'q1', sv[CAST((cnt-1)//4 AS INT) + 1] FROM agg
             |    UNION ALL SELECT r, c, 'q3', sv[CAST(3*(cnt-1)//4 AS INT) + 1] FROM agg))
             |SELECT kernel, CAST(r//25 AS INT) AS y_chunk, CAST(c//25 AS INT) AS x_chunk,
             |  count(*) AS n_px,
             |  CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*50 + c)) AS BIGINT) AS pos_chk
             |FROM qx GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ----- R22: CUBIC B-SPLINE warp (GDAL `cubicspline`) — the LAST
    // member of the WarpedVRT resampling enum: the 4x4 smoothing
    // convolution (B3 basis, all-positive partition-of-unity weights —
    // no overshoot, doesn't interpolate). The /6 makes weights RATIONAL
    // with per-axis denominator 3072 at eighth offsets (not dyadic, and
    // true values can sit exactly on coarse-quantum half-boundaries —
    // a 1/256 quantum flipped 4 pixels between engines), so the parity
    // contract RECONSTRUCTS the exact rational numerator instead:
    // q = round(v·3072²), where the float error (~2e-4 at this scale)
    // is nine orders under the half-unit gap — both engines recover the
    // identical integer. With r21 this completes GDAL's
    // WarpedVRT resampling enum (`rio_reader.py:344-360`): nearest,
    // bilinear, cubic, cubicspline, lanczos, average, mode, max, min,
    // med, q1, q3, sum, rms — all oracle-gated.
    Q("r22_warp_cubicspline",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds, RasterSpec}
        import graft.scan.{AssetRow, ModRampReader, TileScan, WarpedGridReader}
        val spec = RasterSpec(3857, Bounds(1344000.0, 5917000.0, 1346000.0, 5919000.0), 10.0, 10.0)
        val aTf = AffineTransform.northUp(1343800.0, 5918800.0, 8.0, 8.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp3857://a",
          1343800.0, 5916400.0, 1346200.0, 5918800.0, 1.0, 0.0, epsg = 3857))
        val tiles = TileScan.scan(s, assets, spec, chunk = 100,
          readerFor = _ => WarpedGridReader(ModRampReader(251), aTf, 3857, 300, 300, spec,
            graft.ops.Resampling.CubicSpline))
        tiles.flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 100 + t.rowOff + r
              val gc = t.xChunk * 100 + t.colOff + c
              (t.yChunk, t.xChunk, math.round(v * 9437184.0), gr.toLong * 200 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,200) t(r) CROSS JOIN range(0,200) u(c)),
             |m AS (SELECT r, c,
             |        10.0*(c + 0.5) + 0.0*(r + 0.5) + 1344000.0 AS wx,
             |        0.0*(c + 0.5) + (-10.0)*(r + 0.5) + 5919000.0 AS wy
             |      FROM px),
             |f AS (SELECT r, c,
             |        (0.125*wx + 0.0*wy + (-167975.0)) - 0.5 AS gc,
             |        (0.0*wx + (-0.125)*wy + 739850.0) - 0.5 AS gr
             |       FROM m),
             |w AS (SELECT r, c,
             |        CAST(floor(gr) AS BIGINT) AS r0, CAST(floor(gc) AS BIGINT) AS c0,
             |        gr - floor(gr) AS tr, gc - floor(gc) AS tc
             |       FROM f
             |       WHERE floor(gr) >= 1 AND floor(gr) + 2 <= 299
             |         AND floor(gc) >= 1 AND floor(gc) + 2 <= 299),
             |taps AS (SELECT r, c, r0, c0, tr, tc, dr.o AS dr, dc.o AS dc
             |       FROM w CROSS JOIN range(-1,3) dr(o) CROSS JOIN range(-1,3) dc(o)),
             |tv AS (SELECT r, c,
             |    (CASE dr WHEN -1 THEN (1.0-tr)*(1.0-tr)*(1.0-tr)/6.0
             |             WHEN 0  THEN (3.0*tr*tr*tr - 6.0*tr*tr + 4.0)/6.0
             |             WHEN 1  THEN (-3.0*tr*tr*tr + 3.0*tr*tr + 3.0*tr + 1.0)/6.0
             |             ELSE tr*tr*tr/6.0 END)
             |  * (CASE dc WHEN -1 THEN (1.0-tc)*(1.0-tc)*(1.0-tc)/6.0
             |             WHEN 0  THEN (3.0*tc*tc*tc - 6.0*tc*tc + 4.0)/6.0
             |             WHEN 1  THEN (-3.0*tc*tc*tc + 3.0*tc*tc + 3.0*tc + 1.0)/6.0
             |             ELSE tc*tc*tc/6.0 END)
             |  * CAST(((r0+dr)*(r0+dr) + (c0+dc)*(c0+dc)) % 251 AS DOUBLE) AS term
             |       FROM taps),
             |v AS (SELECT r, c, sum(term) AS bv FROM tv GROUP BY 1, 2),
             |q AS (SELECT r, c, CAST(round(bv*9437184.0, 0) AS BIGINT) AS q FROM v)
             |SELECT CAST(r//100 AS INT) AS y_chunk, CAST(c//100 AS INT) AS x_chunk,
             |  count(*) AS n_px,
             |  CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*200 + c)) AS BIGINT) AS pos_chk
             |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- X44: robots WILDCARD evaluation (RFC 9309 §2.2.3) — x41
    // with the full pattern grammar: `*` spans any octet sequence, a
    // trailing `$` anchors at the path end, and specificity stays the
    // raw pattern length. Each domain gets an anchored wildcard
    // Disallow (paths ENDING in the domain digit), a LONGER anchored
    // wildcard Allow (paths starting AND ending with it), and an
    // unanchored wildcard Disallow (paths starting with the doubled
    // digit) — so anchor semantics, wildcard spans, and the
    // longest-match interplay are all load-bearing. The oracle states
    // the compiled LIKE forms and the ranking directly.
    Q("x44_robots_wildcards",
      (s, dir) => {
        import s.implicits._
        val urls = t(s, dir, "documents")
          .select($"doc_id",
            concat(lit("http://site"), ($"doc_id" % 7).cast("string"),
              lit(".example"), ($"doc_id" % 7).cast("string"),
              lit(".com/Docs/"), $"doc_id".cast("string")).as("url"))
        val robots = (0 until 7).map { d =>
          (s"example$d.com",
           s"User-agent: *\nDisallow: /Docs/*$d" + "$\n" +
           s"Allow: /Docs/$d*$d" + "$\n" +
           s"Disallow: /Docs/$d$d*\n")
        }.toDF("domain", "robots")
        val rules = graft.text.Robots.parseRules(robots, $"domain", $"robots")
        graft.text.Robots.evaluate(urls, $"url", rules)
          .groupBy(($"doc_id" % 7).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_urls"),
               sum(when($"allowed", 1L).otherwise(0L)).as("n_allowed"),
               sum(when(!$"allowed", $"doc_id").otherwise(0L)).cast("long").as("blocked_id_sum"))
          .orderBy($"bucket")
      },
      Some("""WITH u AS (SELECT doc_id, doc_id % 7 AS d,
             |           '/Docs/' || doc_id AS path FROM documents),
             |rules AS (
             |  SELECT t.d, 9 AS plen, false AS allow,
             |         '/Docs/%' || t.d AS pat FROM range(0,7) t(d)
             |  UNION ALL SELECT t.d, 10, true,
             |         '/Docs/' || t.d || '%' || t.d FROM range(0,7) t(d)
             |  UNION ALL SELECT t.d, 9, false,
             |         '/Docs/' || t.d || t.d || '%' FROM range(0,7) t(d)),
             |m AS (SELECT u.doc_id, u.d, r.plen, r.allow
             |      FROM u LEFT JOIN rules r
             |        ON r.d = u.d AND u.path LIKE r.pat),
             |rk AS (SELECT doc_id, d, allow, row_number() OVER (
             |         PARTITION BY doc_id
             |         ORDER BY plen DESC NULLS LAST, allow DESC) AS rn
             |       FROM m),
             |v AS (SELECT doc_id, d, coalesce(allow, true) AS allowed
             |      FROM rk WHERE rn = 1)
             |SELECT CAST(d AS INT) AS bucket, count(*) AS n_urls,
             |  CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
             |  CAST(sum(CASE WHEN allowed THEN 0 ELSE doc_id END) AS BIGINT) AS blocked_id_sum
             |FROM v GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- J12: FORWARD as-of join (AsOfJoin.forward) — the direction
    // j6/j7/j11 leave open (pandas merge_asof direction="forward"):
    // each purchase matched to the user's EARLIEST click at-or-after it
    // ("the next follow-up after the conversion"). Inclusive at equal
    // time via the flipped side marker; equal-time ties go to the MIN
    // tiebreak (backward's mirror). Same single-shuffle tagged-union
    // window plan; the oracle is DuckDB's native ASOF with the
    // inequality reversed, right side pre-deduped to min event id per
    // timestamp so both engines' tie conventions coincide.
    Q("j12_asof_forward",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val purchases = ev.filter($"event_type" === "purchase")
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id", $"ts", $"event_id")
        graft.ops.AsOfJoin.forward(
            purchases, clicks,
            key = Seq("user_id"), time = "ts",
            payload = Seq("event_id", "ts"),
            tiebreak = Seq("event_id"), prefix = "c_")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_purch"),
               count($"c_event_id").as("n_matched"),
               sum(coalesce($"c_event_id", lit(0L))).as("sum_click_eid"),
               sum(coalesce(unix_micros($"c_ts") - unix_micros($"ts"), lit(0L))).as("sum_gap_us"))
          .orderBy($"user_id")
      },
      Some("""WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts, min(event_id) AS c_eid
             |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
             |j AS (SELECT p.user_id, c.c_eid, p.ts AS p_ts, c.ts AS c_ts
             |      FROM p ASOF LEFT JOIN c
             |        ON p.user_id = c.user_id AND p.ts <= c.ts)
             |SELECT user_id, count(*) AS n_purch, count(c_eid) AS n_matched,
             |  CAST(sum(COALESCE(c_eid, 0)) AS BIGINT) AS sum_click_eid,
             |  CAST(sum(COALESCE(epoch_us(c_ts) - epoch_us(p_ts), 0)) AS BIGINT) AS sum_gap_us
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  private lazy val roundThirteen: Seq[Q] = Seq(

    // ----- R24: 3×3 FOCAL SUM via halo exchange (ops.Focal) — the
    // distributed-stencil pattern (HPC ghost cells / dask map_overlap):
    // each tile re-emits itself plus 1-pixel border strips addressed to
    // its ≤8 neighbor chunks; ONE shuffle co-locates each chunk's
    // (chunk+2)² padded neighborhood; a tight loop computes the stencil.
    // Shuffle volume = data + 4·perimeter (≈1.008× at chunk=1024), never
    // the 9× pixel self-join. The 150×150 ModRamp grid at chunk=50 makes
    // every interior chunk border a real halo crossing; strict-stencil
    // NaN at the raster edge prunes rows 0/149 and cols 0/149. All
    // focal sums are exact small integers (≤ 9·250), so q = round(v) and
    // the per-chunk census is bit-exact in both engines.
    Q("r24_focal_mean",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(251))
        Focal.focalSum3x3(tiles, 50, 50, 150, 150)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              (t.yChunk, t.xChunk, math.round(v), gr.toLong * 150 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |            WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |n AS (SELECT p.r, p.c,
             |        CAST(sum(((p.r+dr.o)*(p.r+dr.o) + (p.c+dc.o)*(p.c+dc.o)) % 251) AS BIGINT) AS q
             |      FROM px p CROSS JOIN range(-1,2) dr(o) CROSS JOIN range(-1,2) dc(o)
             |      GROUP BY 1, 2)
             |SELECT CAST(r//50 AS INT) AS y_chunk, CAST(c//50 AS INT) AS x_chunk,
             |  count(*) AS n_px, CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM n GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- R23: ZONAL STATISTICS (ops.Zonal) — the raster⋈vector
    // workhorse (per-field mean NDVI, per-district rainfall; the
    // reference's users run it downstream via rasterstats). Scale shape:
    // zones are census-sized so they BROADCAST; each tile computes
    // per-zone partials (n, Σq, pos-chk) in one loop over its own pixels
    // behind a zone-bbox-vs-tile precheck; the only shuffle is the tiny
    // partial-row agg — never a pixel-level spatial join. Zones are
    // convex CCW polygons (containment = every edge cross ≥ 0); all
    // vertices and pixel centers are small integers, so every cross
    // product is exact in BOTH engines and the half-plane census is
    // bit-reproducible. Zone 4 hangs off-grid (clipped by construction);
    // zone 3 straddles four chunk borders.
    Q("r23_zonal_stats",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.{Zonal, Zone}
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(251))
        val zones = Seq(
          Zone(1, Array(100.0, 700.0, 300.0), Array(100.0, 150.0, 600.0)),
          Zone(2, Array(800.0, 1400.0, 1300.0, 900.0), Array(200.0, 300.0, 900.0, 800.0)),
          Zone(3, Array(600.0, 900.0, 1100.0, 850.0, 550.0),
                  Array(600.0, 550.0, 800.0, 1050.0, 900.0)),
          Zone(4, Array(-200.0, 400.0, 500.0, -100.0),
                  Array(1200.0, 1100.0, 1480.0, 1600.0)))
        Zonal.stats(tiles, spec, 50, 50, zones).orderBy($"zone_id")
      },
      Some("""WITH px AS (SELECT r, c, CAST((r*r + c*c) % 251 AS BIGINT) AS q,
             |        CAST(10*c + 5 AS DOUBLE) AS wx, CAST(1495 - 10*r AS DOUBLE) AS wy
             |      FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)),
             |zv AS (SELECT * FROM (VALUES
             |  (1, 100.0,100.0, 700.0,150.0), (1, 700.0,150.0, 300.0,600.0), (1, 300.0,600.0, 100.0,100.0),
             |  (2, 800.0,200.0, 1400.0,300.0), (2, 1400.0,300.0, 1300.0,900.0),
             |  (2, 1300.0,900.0, 900.0,800.0), (2, 900.0,800.0, 800.0,200.0),
             |  (3, 600.0,600.0, 900.0,550.0), (3, 900.0,550.0, 1100.0,800.0),
             |  (3, 1100.0,800.0, 850.0,1050.0), (3, 850.0,1050.0, 550.0,900.0),
             |  (3, 550.0,900.0, 600.0,600.0),
             |  (4, -200.0,1200.0, 400.0,1100.0), (4, 400.0,1100.0, 500.0,1480.0),
             |  (4, 500.0,1480.0, -100.0,1600.0), (4, -100.0,1600.0, -200.0,1200.0)
             |  ) AS v(zone_id, x1, y1, x2, y2)),
             |m AS (SELECT z.zone_id, p.r, p.c, p.q,
             |        min((z.x2-z.x1)*(p.wy-z.y1) - (z.y2-z.y1)*(p.wx-z.x1)) AS mincross
             |      FROM px p CROSS JOIN zv z
             |      GROUP BY 1, 2, 3, 4)
             |SELECT zone_id, count(*) AS n_px, CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM m WHERE mincross >= 0 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T32: ENCODING-ROBUSTNESS census (text.Encoding) — the
    // crawl-hygiene gate for decode wreckage: U+FFFD decoder bailouts,
    // C0 binary-in-text controls, and cp1252 mojibake digraphs (valid
    // Unicode that only a signature census catches). The synthetic docs
    // are pure ASCII, so the fixture plants each failure class
    // deterministically: doc_id%7 gets length-proportional mojibake
    // (always over the 5-permille gate), doc_id%5==3 gets a single
    // NBSP digraph (under the gate for long docs, OVER it for short
    // ones — the length normalization is load-bearing), %13 plants
    // U+FFFD, %17 plants controls. All counters are replace/regexp
    // length deltas (codegen, no UDF, zero shuffle before the census
    // agg); every char is BMP so Spark UTF-16 length == DuckDB
    // codepoint length.
    Q("t32_encoding_census",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val corrupted = docs.withColumn("ctext",
          concat(
            $"text",
            when($"doc_id" % 7 === 0,
              expr("repeat('Ã©Ã¨â€™', 1 + CAST(n_chars / 100 AS INT))"))
              .otherwise(lit("")),
            when($"doc_id" % 5 === 3, lit("Â ")).otherwise(lit("")),
            when($"doc_id" % 13 === 0, lit("��")).otherwise(lit("")),
            when($"doc_id" % 17 === 0, lit("\u0001\u0002")).otherwise(lit(""))))
        val scored = graft.text.Encoding.score($"ctext")
          .foldLeft(corrupted) { case (df, (n, c)) => df.withColumn(n, c) }
        scored.groupBy($"lang", $"enc_clean")
          .agg(count(lit(1)).as("n_docs"),
               sum($"repl_pm").as("sum_repl_pm"),
               sum($"ctrl_pm").as("sum_ctrl_pm"),
               sum($"moji_pm").as("sum_moji_pm"),
               sum($"nonascii_pm").as("sum_nonascii_pm"))
          .orderBy($"lang", $"enc_clean")
      },
      Some("""WITH c AS (SELECT lang, text
             |    || CASE WHEN doc_id % 7 = 0 THEN repeat(
             |         chr(195)||chr(169)||chr(195)||chr(168)||chr(226)||chr(8364)||chr(8482),
             |         CAST(1 + n_chars // 100 AS INT)) ELSE '' END
             |    || CASE WHEN doc_id % 5 = 3 THEN chr(194)||' ' ELSE '' END
             |    || CASE WHEN doc_id % 13 = 0 THEN chr(65533)||chr(65533) ELSE '' END
             |    || CASE WHEN doc_id % 17 = 0 THEN chr(1)||chr(2) ELSE '' END AS t
             |  FROM documents),
             |n AS (SELECT lang, greatest(length(t), 1) AS len,
             |    length(t) - length(replace(t, chr(65533), '')) AS repl,
             |    length(t) - length(regexp_replace(t, '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g')) AS ctrl,
             |      (length(t) - length(replace(t, chr(195)||chr(169), ''))) // 2
             |    + (length(t) - length(replace(t, chr(195)||chr(168), ''))) // 2
             |    + (length(t) - length(replace(t, chr(195)||chr(164), ''))) // 2
             |    + (length(t) - length(replace(t, chr(195)||chr(182), ''))) // 2
             |    + (length(t) - length(replace(t, chr(195)||chr(188), ''))) // 2
             |    + (length(t) - length(replace(t, chr(195)||chr(177), ''))) // 2
             |    + (length(t) - length(replace(t, chr(226)||chr(8364)||chr(8482), ''))) // 3
             |    + (length(t) - length(replace(t, chr(226)||chr(8364)||chr(8220), ''))) // 3
             |    + (length(t) - length(replace(t, chr(226)||chr(8364)||chr(8211), ''))) // 3
             |    + (length(t) - length(replace(t, chr(194)||chr(160), ''))) // 2
             |    + (length(t) - length(replace(t, chr(194)||' ', ''))) // 2 AS moji,
             |    length(t) - length(regexp_replace(t, '[^\x00-\x7f]', '', 'g')) AS nonascii
             |  FROM c),
             |p AS (SELECT lang,
             |    repl*1000 // len AS repl_pm, ctrl*1000 // len AS ctrl_pm,
             |    moji*1000 // len AS moji_pm, nonascii*1000 // len AS nonascii_pm,
             |    (repl = 0 AND ctrl = 0 AND moji*1000 // len < 5) AS enc_clean
             |  FROM n)
             |SELECT lang, enc_clean, count(*) AS n_docs,
             |  CAST(sum(repl_pm) AS BIGINT) AS sum_repl_pm,
             |  CAST(sum(ctrl_pm) AS BIGINT) AS sum_ctrl_pm,
             |  CAST(sum(moji_pm) AS BIGINT) AS sum_moji_pm,
             |  CAST(sum(nonascii_pm) AS BIGINT) AS sum_nonascii_pm
             |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- X42: LABEL-PROPAGATION communities (graph.LabelProp) — the
    // DENSITY partition beside x4's connectivity partition: a bridge
    // edge between two dense dup clusters merges their component but
    // (mostly) not their labels. Fixture: star edges inside each
    // fingerprint dup group (hub = min id) PLUS one bridge per
    // (min_id % 10) bucket joining that bucket's extreme hubs — built
    // with aggs, no global window. LPA contract replayed exactly by the
    // oracle: 3 synchronous rounds, neighbor votes + one self-vote,
    // argmax count with min-label ties (struct-max in Spark,
    // row_number in SQL — same total order). The census (label,
    // members, id-sum) pins the whole deterministic trajectory,
    // including the known min-label tie-bias drains on bridges.
    Q("x42_label_prop",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id",
            md5(array_join(array_sort(array_distinct(split($"text", " "))), " ")).as("fp"))
        val groups = docs.groupBy($"fp").agg(min($"doc_id").as("m"))
        val stars = docs.join(groups, "fp").filter($"doc_id" =!= $"m")
          .select($"m".as("a"), $"doc_id".as("b"))
        val bridges = groups.groupBy(($"m" % 10).as("bkt"))
          .agg(min($"m").as("a"), max($"m").as("b"))
          .filter($"a" =!= $"b").select($"a", $"b")
        val labels = withStreamPartitions(s, 8) {
          graft.graph.LabelProp.propagate(stars.unionByName(bridges), rounds = 3)
        }
        labels.groupBy($"label")
          .agg(count(lit(1)).as("n_members"), sum($"node").as("sum_nodes"))
          .orderBy($"label")
      },
      Some("""WITH f AS (SELECT doc_id,
             |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp
             |  FROM documents),
             |g AS (SELECT fp, min(doc_id) AS m FROM f GROUP BY 1),
             |stars AS (SELECT g.m AS a, f.doc_id AS b
             |          FROM f JOIN g ON f.fp = g.fp WHERE f.doc_id != g.m),
             |bridges AS (SELECT min(m) AS a, max(m) AS b FROM g
             |            GROUP BY m % 10 HAVING min(m) != max(m)),
             |e AS (SELECT a, b FROM stars UNION ALL SELECT a, b FROM bridges),
             |sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
             |l0 AS (SELECT DISTINCT a AS node, CAST(a AS BIGINT) AS label FROM sym),
             |v1 AS (SELECT s.b AS node, l.label FROM sym s JOIN l0 l ON l.node = s.a
             |       UNION ALL SELECT node, label FROM l0),
             |c1 AS (SELECT node, label, count(*) AS c FROM v1 GROUP BY 1, 2),
             |l1 AS (SELECT node, label FROM (SELECT node, label,
             |         row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
             |       FROM c1) WHERE rn = 1),
             |v2 AS (SELECT s.b AS node, l.label FROM sym s JOIN l1 l ON l.node = s.a
             |       UNION ALL SELECT node, label FROM l1),
             |c2 AS (SELECT node, label, count(*) AS c FROM v2 GROUP BY 1, 2),
             |l2 AS (SELECT node, label FROM (SELECT node, label,
             |         row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
             |       FROM c2) WHERE rn = 1),
             |v3 AS (SELECT s.b AS node, l.label FROM sym s JOIN l2 l ON l.node = s.a
             |       UNION ALL SELECT node, label FROM l2),
             |c3 AS (SELECT node, label, count(*) AS c FROM v3 GROUP BY 1, 2),
             |l3 AS (SELECT node, label FROM (SELECT node, label,
             |         row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
             |       FROM c3) WHERE rn = 1)
             |SELECT label, count(*) AS n_members, CAST(sum(node) AS BIGINT) AS sum_nodes
             |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- V23: GRAPH-based ANN (ann.KnnGraph) — the HNSW/NN-Descent
    // family's shape: build an approximate kNN GRAPH seeded from TWO
    // disjoint LSH tables (one table's neighbors-of-neighbors never leave
    // the seed bucket; a hop through a table-B edge escapes the table-A
    // bucket), then answer queries by one-hop expansion + exact rerank.
    // Scale: seeding is the banding-bounded equi-join per table; the graph
    // is n·g rows; expansion is edges⋈edges on the middle node (≤ n·g²),
    // all key-shuffles — the n² pair space never materializes.
    Q("v23_knn_graph_expand",
      (s, dir) => {
        import s.implicits._
        // reuse shape as v24/v25: prepared has 4 refs in build + 3 in
        // expandTopK, edges 2 (direct + hop-2) — checkpoint both so the
        // LSH build chain executes once (guide §5)
        val prepared = graft.ann.Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
          .localCheckpoint(true)
        val edges = graft.ann.KnnGraph.build(prepared, nPlanes = 4, nTables = 2,
          dim = 64, g = 6).localCheckpoint(true)
        graft.ann.KnnGraph.expandTopK(edges, prepared, k = 5, $"id" < 10)
          .orderBy($"qid", $"rk")
      },
      Some("""WITH planes AS (
             |  SELECT j, i,
             |    CASE WHEN ('0x'||substr(md5(j||'_'||i),1,2))::INT % 2 = 0 THEN 1 ELSE -1 END AS sgn
             |  FROM range(0,8) t(j) CROSS JOIN range(0,64) u(i)),
             |comps AS (
             |  SELECT vec_id, i, CAST(round(CAST(embedding[i+1] AS DOUBLE)*10000) AS BIGINT) AS c
             |  FROM embeddings CROSS JOIN range(0,64) u(i)),
             |proj AS (
             |  SELECT vec_id, j, sum(c * sgn) AS p
             |  FROM comps JOIN planes USING (i) GROUP BY vec_id, j),
             |buckets AS (
             |  SELECT vec_id,
             |    sum(CASE WHEN j < 4 AND p > 0 THEN 1 << j ELSE 0 END) AS b0,
             |    sum(CASE WHEN j >= 4 AND p > 0 THEN 1 << (j-4) ELSE 0 END) AS b1
             |  FROM proj GROUP BY vec_id),
             |q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |      FROM embeddings),
             |n AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM q),
             |cand AS (
             |  SELECT a.vec_id AS src, b.vec_id AS dst
             |  FROM buckets a JOIN buckets b ON a.b0 = b.b0 AND a.vec_id != b.vec_id
             |  UNION
             |  SELECT a.vec_id, b.vec_id
             |  FROM buckets a JOIN buckets b ON a.b1 = b.b1 AND a.vec_id != b.vec_id),
             |pc AS (
             |  SELECT src, dst,
             |    round(list_sum(list_transform(list_zip(na.qv, nb.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(na.nq::DOUBLE) * sqrt(nb.nq::DOUBLE)), 6) AS cos
             |  FROM cand JOIN n na ON na.vec_id = src JOIN n nb ON nb.vec_id = dst),
             |edges AS (
             |  SELECT src, dst FROM (
             |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
             |    FROM pc) WHERE rk <= 6),
             |direct AS (SELECT src AS qid, dst AS nid FROM edges WHERE src < 10),
             |hop2 AS (SELECT d.qid, e.dst AS nid FROM direct d JOIN edges e ON d.nid = e.src),
             |cands AS (SELECT DISTINCT qid, nid
             |          FROM (SELECT * FROM direct UNION ALL SELECT * FROM hop2)
             |          WHERE qid != nid),
             |sc AS (
             |  SELECT qid, nid,
             |    round(list_sum(list_transform(list_zip(na.qv, nb.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(na.nq::DOUBLE) * sqrt(nb.nq::DOUBLE)), 6) AS cos
             |  FROM cands JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = nid)
             |SELECT qid, rk, nid, cos FROM (
             |  SELECT qid, nid, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
             |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),

    // ----- V24: one NN-DESCENT round (Dong et al. WWW'11) over the v23
    // seed graph — co-adjacency proposes candidates (neighbor-of-my-
    // neighbor), exact rescoring keeps each node's top-g. Reverse
    // neighborhoods are capped at g (the paper's reverse sampling) so the
    // local join is ≤ 4g²·n rows on the pivot key — a hub can't blow it
    // up. Output: the edge-quality census before/after (sum of cos×1e6 is
    // an exact integer under the round(·,6) contract), the measured claim
    // that one round strictly improves the graph.
    Q("v24_nndescent",
      (s, dir) => {
        import s.implicits._
        // prepared is referenced 4x by build (two LSH tables x two join
        // sides) and 2x by refine's exact scoring; seed feeds BOTH the
        // census and refine (which itself references it 3x: reverse
        // sampling, the undirected union, the candidate merge) — without
        // the checkpoints the whole LSH build chain re-executes per
        // reference (guide §5: persist what is reused; both frames are
        // n- or n·g-row small)
        val prepared = graft.ann.Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
          .localCheckpoint(true)
        val seed = graft.ann.KnnGraph.build(prepared, nPlanes = 4, nTables = 2,
          dim = 64, g = 6).localCheckpoint(true)
        val refined = graft.ann.KnnGraph.refine(seed, prepared, g = 6)
        val census = (df: DataFrame, stage: String) =>
          df.agg(count(lit(1)).as("n_edges"),
                 sum(round($"cos" * 1000000).cast("long")).as("sum_q6"))
            .select(lit(stage).as("stage"), $"n_edges", $"sum_q6")
        census(seed, "seed").unionByName(census(refined, "refined"))
          .orderBy($"stage")
      },
      Some("""WITH planes AS (
             |  SELECT j, i,
             |    CASE WHEN ('0x'||substr(md5(j||'_'||i),1,2))::INT % 2 = 0 THEN 1 ELSE -1 END AS sgn
             |  FROM range(0,8) t(j) CROSS JOIN range(0,64) u(i)),
             |comps AS (
             |  SELECT vec_id, i, CAST(round(CAST(embedding[i+1] AS DOUBLE)*10000) AS BIGINT) AS c
             |  FROM embeddings CROSS JOIN range(0,64) u(i)),
             |proj AS (
             |  SELECT vec_id, j, sum(c * sgn) AS p
             |  FROM comps JOIN planes USING (i) GROUP BY vec_id, j),
             |buckets AS (
             |  SELECT vec_id,
             |    sum(CASE WHEN j < 4 AND p > 0 THEN 1 << j ELSE 0 END) AS b0,
             |    sum(CASE WHEN j >= 4 AND p > 0 THEN 1 << (j-4) ELSE 0 END) AS b1
             |  FROM proj GROUP BY vec_id),
             |q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |      FROM embeddings),
             |n AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM q),
             |cand AS (
             |  SELECT a.vec_id AS src, b.vec_id AS dst
             |  FROM buckets a JOIN buckets b ON a.b0 = b.b0 AND a.vec_id != b.vec_id
             |  UNION
             |  SELECT a.vec_id, b.vec_id
             |  FROM buckets a JOIN buckets b ON a.b1 = b.b1 AND a.vec_id != b.vec_id),
             |pc AS (
             |  SELECT src, dst,
             |    round(list_sum(list_transform(list_zip(na.qv, nb.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(na.nq::DOUBLE) * sqrt(nb.nq::DOUBLE)), 6) AS cos
             |  FROM cand JOIN n na ON na.vec_id = src JOIN n nb ON nb.vec_id = dst),
             |edges AS (
             |  SELECT src, dst, cos FROM (
             |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
             |    FROM pc) WHERE rk <= 6),
             |rev AS (
             |  SELECT dst AS src, src AS dst FROM (
             |    SELECT src, dst, row_number() OVER (PARTITION BY dst ORDER BY cos DESC, src) AS rk
             |    FROM edges) WHERE rk <= 6),
             |und AS (SELECT src, dst FROM edges UNION SELECT src, dst FROM rev),
             |cnd AS (
             |  SELECT x.dst AS src, y.dst AS dst
             |  FROM und x JOIN und y ON x.src = y.src AND x.dst != y.dst
             |  UNION
             |  SELECT src, dst FROM edges),
             |sc AS (
             |  SELECT c.src, c.dst,
             |    round(list_sum(list_transform(list_zip(na.qv, nb.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(na.nq::DOUBLE) * sqrt(nb.nq::DOUBLE)), 6) AS cos
             |  FROM (SELECT DISTINCT src, dst FROM cnd WHERE src != dst) c
             |  JOIN n na ON na.vec_id = c.src JOIN n nb ON nb.vec_id = c.dst),
             |ref AS (
             |  SELECT src, dst, cos FROM (
             |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
             |    FROM sc) WHERE rk <= 6)
             |SELECT stage, n_edges, sum_q6 FROM (
             |  SELECT 'seed' AS stage, count(*) AS n_edges,
             |    CAST(sum(CAST(round(cos*1000000) AS BIGINT)) AS BIGINT) AS sum_q6 FROM edges
             |  UNION ALL
             |  SELECT 'refined', count(*),
             |    CAST(sum(CAST(round(cos*1000000) AS BIGINT)) AS BIGINT) FROM ref)
             |ORDER BY stage""".stripMargin)),

    // ----- X46: TRIANGLE census (graph.Triangles) over the co-purchase
    // graph — parts bought together in ≥2 orders. Degree-ordered
    // orientation bounds the wedge join at O(m^1.5) rows total (out-degree
    // ≤ O(√m) by the classical argument) no matter how skewed a hub
    // part's degree; wedge closure is one semi-join against the canonical
    // edge list. Output: the per-node triangle-participation histogram.
    Q("x46_triangles",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
        val pr = li.as("a").join(li.as("b"),
            $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
          .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
        val edges = pr.groupBy($"u", $"v").agg(count(lit(1)).as("supp"))
          .filter($"supp" >= 2).select($"u", $"v")
        graft.graph.Triangles.participationCensus(edges).orderBy($"n_tri")
      },
      Some("""WITH pairs AS (
             |  SELECT a.l_partkey AS u, b.l_partkey AS v
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS (SELECT node, count(*) AS d FROM
             |          (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
             |        GROUP BY 1),
             |o AS (SELECT CASE WHEN du.d <= dv.d THEN u ELSE v END AS src,
             |             CASE WHEN du.d <= dv.d THEN v ELSE u END AS dst
             |      FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
             |w AS (SELECT o1.src AS pv, o1.dst AS a, o2.dst AS b
             |      FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
             |tri AS (SELECT pv, a, b FROM w
             |        WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.u = w.a AND p.v = w.b)),
             |nodes AS (SELECT pv AS node FROM tri
             |          UNION ALL SELECT a FROM tri UNION ALL SELECT b FROM tri),
             |pn AS (SELECT node, count(*) AS n_tri FROM nodes GROUP BY 1)
             |SELECT n_tri, count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS sum_nodes
             |FROM pn GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R25: TERRAIN gradient (Horn 1981 — the GDAL/ArcGIS slope
    // kernel) via the SAME halo exchange as r24 — one shuffle, ghost
    // cells, tight loop. Output is gx²+gy² (the squared slope numerator):
    // over the integer ModRamp DEM it is an exact integer (|g| ≤ 8·250),
    // so the per-chunk census is bit-exact in both engines; slope-in-
    // degrees is the caller's pointwise atan epilogue.
    Q("r25_terrain_grad",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(251))
        Focal.hornGradSq3x3(tiles, 50, 50, 150, 150)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              (t.yChunk, t.xChunk, math.round(v), gr.toLong * 150 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |            WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |wt AS (SELECT * FROM (VALUES
             |  (-1,-1,-1,-1), (-1,0,0,-2), (-1,1,1,-1),
             |  ( 0,-1,-2, 0),              ( 0,1,2, 0),
             |  ( 1,-1,-1, 1), ( 1,0,0, 2), ( 1,1,1, 1)
             |  ) AS v(dr, dc, wx, wy)),
             |g AS (SELECT p.r, p.c,
             |        sum(wx * (((p.r+dr)*(p.r+dr) + (p.c+dc)*(p.c+dc)) % 251)) AS gx,
             |        sum(wy * (((p.r+dr)*(p.r+dr) + (p.c+dc)*(p.c+dc)) % 251)) AS gy
             |      FROM px p CROSS JOIN wt GROUP BY 1, 2),
             |n AS (SELECT r, c, CAST(gx*gx + gy*gy AS BIGINT) AS q FROM g)
             |SELECT CAST(r//50 AS INT) AS y_chunk, CAST(c//50 AS INT) AS x_chunk,
             |  count(*) AS n_px, CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM n GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- X47: weight-proportional (PPS) Poisson sampling — include each
    // document independently with probability min(1, k·w/W), w = token
    // count. The zero-coordination sampling scheme (no reservoir, no
    // prefix sum, no global order): one broadcast of per-language totals
    // and a parallel filter. The inclusion test u·W < 2³²·k·w runs in
    // exact integer arithmetic (DECIMAL(38,0) / HUGEINT) — no float
    // probability whose last ulp could flip a row across engines.
    Q("x47_pps_sample",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").select($"doc_id", $"lang",
          size(split($"text", " ")).cast("long").as("w"))
        val sel = graft.ops.Sample.ppsBernoulli(docs, "lang", $"doc_id", "w", k = 40)
        sel.groupBy($"lang")
          .agg(count(lit(1)).as("n_sel"), sum($"w").as("sum_w"),
               sum($"doc_id").as("sum_id"))
          .orderBy($"lang")
      },
      Some("""WITH d AS (SELECT doc_id, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w FROM documents),
             |tot AS (SELECT lang, sum(w) AS tw FROM d GROUP BY 1),
             |u AS (SELECT d.*, tot.tw,
             |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT AS uu
             |  FROM d JOIN tot USING (lang)),
             |sel AS (SELECT * FROM u
             |  WHERE CAST(uu AS HUGEINT) * CAST(tw AS HUGEINT)
             |      < CAST(171798691840 AS HUGEINT) * CAST(w AS HUGEINT))
             |SELECT lang, count(*) AS n_sel, CAST(sum(w) AS BIGINT) AS sum_w,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_id
             |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X45: 2-CORE of the co-purchase graph by synchronous peeling
    // (graph.KCore) — strip every part that can't keep ≥2 co-purchase
    // partners, repeatedly (a tree hanging off a dense cluster peels away
    // leaf-by-layer). 4 rounds ≥ the measured peel depth (3) of this
    // graph; rounds past convergence are no-ops. Per round: one degree
    // census + two semi-joins, O(edges) shuffle, no windows. Output: the
    // degree histogram of the surviving core.
    Q("x45_kcore",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
        val pr = li.as("a").join(li.as("b"),
            $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
          .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
        val edges = pr.groupBy($"u", $"v").agg(count(lit(1)).as("supp"))
          .filter($"supp" >= 2).select($"u", $"v")
        // rounds is a CAP with fixpoint early-exit (free overshoot) —
        // 64 covers any SF's peel depth; the r14 loud guard caught the
        // old fixed rounds=4 silently returning a NON-core at sf0.1
        // (48 edges still peeling). The sf0.01 oracle's 4 unrolled
        // rounds are the converged core there (depth 3).
        graft.graph.KCore.coreDegrees(edges, k = 2, rounds = 64)
          .groupBy($"deg")
          .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_nodes"))
          .orderBy($"deg")
      },
      // SCALE COUPLING: this oracle unrolls exactly 4 peel rounds while
      // the Spark side peels to the fixpoint (cap 64). They agree only
      // where the true peel depth is <= 4 — at sf0.01 (hash-run scale,
      // depth 3) they do; at sf0.1 the depth is deeper and e4 is a
      // NON-core by construction. If the hash-checked scale ever moves,
      // extend the unroll (SQL recursive CTEs can't re-aggregate the
      // recursive table, so the peel can't be a WITH RECURSIVE fixpoint).
      Some("""WITH pairs AS (
             |  SELECT a.l_partkey AS u, b.l_partkey AS v
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |e0 AS (SELECT u AS a, v AS b FROM pairs
             |       UNION ALL SELECT v, u FROM pairs),
             |k0 AS (SELECT a FROM e0 GROUP BY 1 HAVING count(*) >= 2),
             |e1 AS (SELECT e.a, e.b FROM e0 e
             |       JOIN k0 x ON e.a = x.a JOIN k0 y ON e.b = y.a),
             |k1 AS (SELECT a FROM e1 GROUP BY 1 HAVING count(*) >= 2),
             |e2 AS (SELECT e.a, e.b FROM e1 e
             |       JOIN k1 x ON e.a = x.a JOIN k1 y ON e.b = y.a),
             |k2 AS (SELECT a FROM e2 GROUP BY 1 HAVING count(*) >= 2),
             |e3 AS (SELECT e.a, e.b FROM e2 e
             |       JOIN k2 x ON e.a = x.a JOIN k2 y ON e.b = y.a),
             |k3 AS (SELECT a FROM e3 GROUP BY 1 HAVING count(*) >= 2),
             |e4 AS (SELECT e.a, e.b FROM e3 e
             |       JOIN k3 x ON e.a = x.a JOIN k3 y ON e.b = y.a),
             |df AS (SELECT a AS node, count(*) AS deg FROM e4 GROUP BY 1)
             |SELECT deg, count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS sum_nodes
             |FROM df GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R26: D8 FLOW DIRECTION (O'Callaghan & Mark 1984) — the
    // hydrology primitive, on the same halo exchange as r24/r25. Each
    // pixel codes its steepest-descent neighbor (ESRI 1..128, −1 = flat/
    // pit). Descent rate (zC−zN)/dist is a correctly-rounded IEEE divide
    // over exact integer drops — both engines compute the identical
    // double, so the argmax (ties → first ESRI code) replays exactly.
    Q("r26_flow_dir",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(251))
        Focal.d8Flow3x3(tiles, 50, 50, 150, 150)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              (math.round(v), gr.toLong * 150 + gc)
            }
          }
          .toDF("code", "pos")
          .groupBy($"code")
          .agg(count(lit(1)).as("n_px"), sum($"pos").as("pos_chk"))
          .orderBy($"code")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |            WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |dirs AS (SELECT * FROM (VALUES
             |  (0, 1,  0,  1, 1), (1, 2,  1,  1, 2), (2, 4,  1,  0, 1),
             |  (3, 8,  1, -1, 2), (4, 16, 0, -1, 1), (5, 32, -1, -1, 2),
             |  (6, 64, -1, 0, 1), (7, 128, -1, 1, 2)
             |  ) AS v(ord, code, dr, dc, dist2)),
             |rates AS (SELECT p.r, p.c, d.ord, d.code,
             |    CAST((p.r*p.r + p.c*p.c) % 251
             |       - ((p.r+d.dr)*(p.r+d.dr) + (p.c+d.dc)*(p.c+d.dc)) % 251 AS DOUBLE)
             |      / sqrt(CAST(d.dist2 AS DOUBLE)) AS rate
             |  FROM px p CROSS JOIN dirs d),
             |rk AS (SELECT r, c, code, rate,
             |    row_number() OVER (PARTITION BY r, c ORDER BY rate DESC, ord) AS rn
             |  FROM rates),
             |d8 AS (SELECT r, c,
             |    CASE WHEN rate > 0 THEN code ELSE -1 END AS code
             |  FROM rk WHERE rn = 1)
             |SELECT CAST(code AS BIGINT) AS code, count(*) AS n_px,
             |  CAST(sum(r*150 + c) AS BIGINT) AS pos_chk
             |FROM d8 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- V25: incremental graph ADMISSION (ann.KnnGraph.admit) — the
    // index-maintenance member for the graph family (x10/x15's pattern):
    // a new vector batch joins the stored corpus graph without a rebuild.
    // Candidates = the batch row's two LSH buckets ∪ one hop through the
    // existing edges (a sparse-bucket newcomer still finds neighbors);
    // the stored corpus is touched only through the joined slices.
    // Output: the per-new-node edge-count histogram with a cos×1e6 sum.
    Q("v25_graph_admit",
      (s, dir) => {
        import s.implicits._
        // same reuse shape as v24: prepared fans out to build (4 refs)
        // and admit (4 more: bucketed corpus/batch + both scoring sides);
        // the built edge table feeds admit's hop join — checkpoint both
        // so the LSH chain runs once (guide §5)
        val prepared = graft.ann.Ann.prepare(t(s, dir, "embeddings"), "vec_id", "embedding")
          .localCheckpoint(true)
        val corpus = prepared.filter($"id" >= 100)
        val batch = prepared.filter($"id" < 100)
        val edges = graft.ann.KnnGraph.build(corpus, nPlanes = 4, nTables = 2,
          dim = 64, g = 6).localCheckpoint(true)
        val admitted = graft.ann.KnnGraph.admit(edges, corpus, batch,
          nPlanes = 4, nTables = 2, dim = 64, g = 6)
        admitted
          .groupBy($"src")
          .agg(count(lit(1)).as("cnt"),
               sum(round($"cos" * 1000000).cast("long")).as("q6"))
          .groupBy($"cnt")
          .agg(count(lit(1)).as("n_nodes"), sum($"src").as("sum_nodes"),
               sum($"q6").as("sum_q6"))
          .orderBy($"cnt")
      },
      Some("""WITH planes AS (
             |  SELECT j, i,
             |    CASE WHEN ('0x'||substr(md5(j||'_'||i),1,2))::INT % 2 = 0 THEN 1 ELSE -1 END AS sgn
             |  FROM range(0,8) t(j) CROSS JOIN range(0,64) u(i)),
             |comps AS (
             |  SELECT vec_id, i, CAST(round(CAST(embedding[i+1] AS DOUBLE)*10000) AS BIGINT) AS c
             |  FROM embeddings CROSS JOIN range(0,64) u(i)),
             |proj AS (
             |  SELECT vec_id, j, sum(c * sgn) AS p
             |  FROM comps JOIN planes USING (i) GROUP BY vec_id, j),
             |buckets AS (
             |  SELECT vec_id,
             |    sum(CASE WHEN j < 4 AND p > 0 THEN 1 << j ELSE 0 END) AS b0,
             |    sum(CASE WHEN j >= 4 AND p > 0 THEN 1 << (j-4) ELSE 0 END) AS b1
             |  FROM proj GROUP BY vec_id),
             |q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv
             |      FROM embeddings),
             |n AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM q),
             |cand AS (
             |  SELECT a.vec_id AS src, b.vec_id AS dst
             |  FROM buckets a JOIN buckets b ON a.b0 = b.b0 AND a.vec_id != b.vec_id
             |  WHERE a.vec_id >= 100 AND b.vec_id >= 100
             |  UNION
             |  SELECT a.vec_id, b.vec_id
             |  FROM buckets a JOIN buckets b ON a.b1 = b.b1 AND a.vec_id != b.vec_id
             |  WHERE a.vec_id >= 100 AND b.vec_id >= 100),
             |pc AS (
             |  SELECT src, dst,
             |    round(list_sum(list_transform(list_zip(na.qv, nb.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(na.nq::DOUBLE) * sqrt(nb.nq::DOUBLE)), 6) AS cos
             |  FROM cand JOIN n na ON na.vec_id = src JOIN n nb ON nb.vec_id = dst),
             |edges AS (
             |  SELECT src, dst FROM (
             |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
             |    FROM pc) WHERE rk <= 6),
             |mates AS (
             |  SELECT a.vec_id AS src, b.vec_id AS dst
             |  FROM buckets a JOIN buckets b ON a.b0 = b.b0
             |  WHERE a.vec_id < 100 AND b.vec_id >= 100
             |  UNION
             |  SELECT a.vec_id, b.vec_id
             |  FROM buckets a JOIN buckets b ON a.b1 = b.b1
             |  WHERE a.vec_id < 100 AND b.vec_id >= 100),
             |hop AS (SELECT m.src, e.dst FROM mates m JOIN edges e ON m.dst = e.src),
             |cands AS (SELECT DISTINCT src, dst
             |          FROM (SELECT * FROM mates UNION ALL SELECT * FROM hop)
             |          WHERE src != dst),
             |sc AS (
             |  SELECT c.src, c.dst,
             |    round(list_sum(list_transform(list_zip(na.qv, nb.qv), s -> s[1]*s[2]))::DOUBLE
             |          / (sqrt(na.nq::DOUBLE) * sqrt(nb.nq::DOUBLE)), 6) AS cos
             |  FROM cands c JOIN n na ON na.vec_id = c.src JOIN n nb ON nb.vec_id = c.dst),
             |adm AS (
             |  SELECT src, dst, cos FROM (
             |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
             |    FROM sc) WHERE rk <= 6),
             |pn AS (SELECT src, count(*) AS cnt,
             |         CAST(sum(CAST(round(cos*1000000) AS BIGINT)) AS BIGINT) AS q6
             |       FROM adm GROUP BY 1)
             |SELECT cnt, count(*) AS n_nodes, CAST(sum(src) AS BIGINT) AS sum_nodes,
             |  CAST(sum(q6) AS BIGINT) AS sum_q6
             |FROM pn GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T33: Unicode-SCRIPT mix census (text.Encoding.scriptVerdict) —
    // the homoglyph-spoofing / wrong-script-for-language gate: dominant
    // script among {latin, cyrillic, han} plus a MIXED flag when the
    // runner-up holds ≥10% of scripted letters (a Cyrillic 'а' smuggled
    // into a Latin word flips the flag long before it changes dominance).
    // The ASCII fixture gets deterministic script runs injected in-query
    // (rpad repetition keyed by doc_id — the t32 corruption pattern);
    // counters are codegen'd length deltas, map-side, integer-exact.
    Q("t33_script_census",
      (s, dir) => {
        import s.implicits._
        val inject = when($"doc_id" % 4 === 1,
            rpad(lit(""), (length($"text") / 2).cast("int"), lit(" привет")))
          .when($"doc_id" % 4 === 2,
            rpad(lit(""), (length($"text") * 2).cast("int"), lit(" 你好")))
          .when($"doc_id" % 4 === 3, lit(" pаypаl"))
          .otherwise(lit(""))
        val docs = t(s, dir, "documents")
          .select($"doc_id", $"lang", concat($"text", inject).as("t"))
        val scored = graft.text.Encoding.scriptVerdict($"t")
          .foldLeft(docs) { case (df, (n, c)) => df.withColumn(n, c) }
        scored.groupBy($"lang", $"script", $"script_mixed")
          .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("sum_id"))
          .orderBy($"lang", $"script", $"script_mixed")
      },
      Some("""WITH d AS (SELECT doc_id, lang,
             |    text || CASE CAST(doc_id % 4 AS INT)
             |      WHEN 1 THEN rpad('', CAST(length(text)//2 AS INT), ' привет')
             |      WHEN 2 THEN rpad('', CAST(length(text)*2 AS INT), ' 你好')
             |      WHEN 3 THEN ' pаypаl'
             |      ELSE '' END AS t
             |  FROM documents),
             |cnts AS (SELECT doc_id, lang,
             |    CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS BIGINT) AS la,
             |    CAST(length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS cy,
             |    CAST(length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g')) AS BIGINT) AS ha
             |  FROM d),
             |v AS (SELECT doc_id, lang,
             |    CASE WHEN la + cy + ha = 0 THEN 'none'
             |         WHEN greatest(la, cy, ha) = la THEN 'latin'
             |         WHEN greatest(la, cy, ha) = cy THEN 'cyrillic'
             |         ELSE 'han' END AS script,
             |    (la + cy + ha > 0 AND
             |     (la + cy + ha - greatest(la, cy, ha) - least(la, cy, ha)) * 10
             |       >= la + cy + ha) AS script_mixed
             |  FROM cnts)
             |SELECT lang, script, script_mixed, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_id
             |FROM v GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ----- S19: STREAMING PPS admission — x47's sampler run over an
    // unbounded document stream with totals CALIBRATED offline
    // (yesterday's census broadcast as a stream-static join): the filter
    // is stateless per row, so the stream needs NO aggregation state for
    // admission, and the admitted set is exactly the batch answer — the
    // oracle is x47's, verbatim. The batch/stream symmetry the engine
    // sells, for the newest sampler.
    Q("s19_stream_pps",
      (s, dir) => {
        import s.implicits._
        val schema = s.read.parquet(s"$dir/documents.parquet").schema
        val queryName = "graft_spps_" + java.util.UUID.randomUUID.toString.replace("-", "")
        def withW(df: DataFrame): DataFrame =
          df.select($"doc_id", $"lang", size(split($"text", " ")).cast("long").as("w"))
        val totals = withW(t(s, dir, "documents"))
          .groupBy($"lang").agg(sum($"w").as("total"))
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val stream = s.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet").parquet(dir)
          val sel = graft.ops.Sample.ppsBernoulliWith(
            withW(stream), "lang", $"doc_id", "w", k = 40, totals)
          val q = sel.groupBy($"lang")
            .agg(count(lit(1)).as("n_sel"), sum($"w").as("sum_w"),
                 sum($"doc_id").as("sum_id"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        s.table(queryName).orderBy($"lang")
      },
      Some("""WITH d AS (SELECT doc_id, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w FROM documents),
             |tot AS (SELECT lang, sum(w) AS tw FROM d GROUP BY 1),
             |u AS (SELECT d.*, tot.tw,
             |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT AS uu
             |  FROM d JOIN tot USING (lang)),
             |sel AS (SELECT * FROM u
             |  WHERE CAST(uu AS HUGEINT) * CAST(tw AS HUGEINT)
             |      < CAST(171798691840 AS HUGEINT) * CAST(w AS HUGEINT))
             |SELECT lang, count(*) AS n_sel, CAST(sum(w) AS BIGINT) AS sum_w,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_id
             |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R27: COARSEN (ops.Coarsen) — xarray's block-aggregate
    // downsample verb, the chunk-aligned answer to the >2× regime the
    // warp kernels' scale notes defer to. b must divide the chunk, so
    // every 5×5 block reduces inside ONE task — no halo, no join; the
    // only shuffle is the fragment-splice co-location and the output is
    // 25× smaller. Census recovers the exact integer block sums through
    // the mean (round(mean·25): IEEE divide-then-scale lands within ulps
    // of the integer in BOTH engines).
    Q("r27_coarsen",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Coarsen
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(251))
        Coarsen.coarsen(tiles, 50, 50, 150, 150, b = 5, Coarsen.Mean)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 10 + r
              val gc = t.xChunk * 10 + c
              (t.yChunk, t.xChunk, math.round(v * 25), gr.toLong * 30 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c, (r*r + c*c) % 251 AS q
             |            FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)),
             |blk AS (SELECT r//5 AS br, c//5 AS bc, sum(q) AS s FROM px GROUP BY 1, 2),
             |m AS (SELECT br, bc,
             |        CAST(round((CAST(s AS DOUBLE)/25.0)*25.0) AS BIGINT) AS q
             |      FROM blk)
             |SELECT CAST(br//10 AS INT) AS y_chunk, CAST(bc//10 AS INT) AS x_chunk,
             |  count(*) AS n_px, CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (br*30 + bc)) AS BIGINT) AS pos_chk
             |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )

  private lazy val roundFourteen: Seq[Q] = Seq(

    // ----- R28: 5×5 GAUSSIAN (binomial) focal smooth via the DEPTH-2
    // halo exchange — the dask map_overlap(depth=2) parity case the
    // stencil family is named after: the SAME one-shuffle design as r24,
    // with 2-pixel border strips ((chunk+4)² padded neighborhoods,
    // ≈1.016× data at chunk=50). Weights are the binomial outer product
    // [1 4 6 4 1]² (sum 256), so over the ModRamp integer field every
    // weighted sum is an exact integer ≤ 256·250 — q = round(v) and the
    // per-chunk census is bit-exact in both engines. Strict stencil:
    // rows/cols 0,1,148,149 have no full 5×5 and are NaN-pruned.
    Q("r28_focal5",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(251))
        Focal.gaussSum5x5(tiles, 50, 50, 150, 150)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              (t.yChunk, t.xChunk, math.round(v), gr.toLong * 150 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH w AS (SELECT o, CASE abs(o) WHEN 0 THEN 6 WHEN 1 THEN 4 ELSE 1 END AS wt
             |           FROM range(-2,3) t(o)),
             |px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |            WHERE r BETWEEN 2 AND 147 AND c BETWEEN 2 AND 147),
             |n AS (SELECT p.r, p.c,
             |        CAST(sum(dr.wt * dc.wt *
             |          (((p.r+dr.o)*(p.r+dr.o) + (p.c+dc.o)*(p.c+dc.o)) % 251)) AS BIGINT) AS q
             |      FROM px p CROSS JOIN w dr CROSS JOIN w dc
             |      GROUP BY 1, 2)
             |SELECT CAST(r//50 AS INT) AS y_chunk, CAST(c//50 AS INT) AS x_chunk,
             |  count(*) AS n_px, CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM n GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- A11: t-digest percentile (sketch.TDigest) — the MERGEABLE
    // single-pass quantile the serving layer's range scan needs at
    // 100 TB (the reference's show.py:493 TODO; a7's exact percentile
    // stays the replayable path). A t-digest's centroids are merge-
    // order-sensitive — Spark fixes no merge order — so the query gates
    // on the sketch's GUARANTEED property instead of centroid values:
    // each per-mille estimate's EXACT rank is verified against the data
    // in the same pass (six conditional counts, one scan, no join), and
    // the hashed verdict is "within 2.5% rank" — merge-order-invariant
    // by the δ=200 accuracy bound (observed error is under 1%, an order
    // inside the gate; TDigestSpec asserts the tighter bound at 1/4/32
    // partitions plus shard-merge equivalence).
    Q("a11_tdigest",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.TDigest
        val x = t(s, dir, "lineitem")
          .select($"l_extendedprice".cast("double").as("x"))
        val dig = x.agg(TDigest.digest($"x").as("d"))
          .head.getAs[scala.collection.Seq[Double]](0).toArray
        val qpm = Seq(10L, 250L, 500L, 750L, 950L, 990L)
        val ests = qpm.map(pm => pm -> TDigest.quantile(dig, pm / 1000.0))
        val aggCols = count(lit(1)).as("n") +: ests.map { case (pm, est) =>
          sum(when($"x" <= est, 1L).otherwise(0L)).as(s"r$pm") }
        val row = x.agg(aggCols.head, aggCols.tail: _*).head
        val n = row.getAs[Long]("n")
        val verdicts = ests.map { case (pm, _) =>
          val rank = row.getAs[Long](s"r$pm")
          // |rank − q·n| ≤ 2.5% of n  ⇔  |1000·rank − pm·n|·40 ≤ 1000·n
          (pm, math.abs(1000L * rank - pm * n) * 40L <= 1000L * n, n)
        }
        verdicts.toDF("q_pm", "within", "n_rows").orderBy($"q_pm")
      },
      Some("""WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
             |SELECT CAST(v.q_pm AS BIGINT) AS q_pm, true AS within, n.n_rows
             |FROM (VALUES (10),(250),(500),(750),(950),(990)) v(q_pm)
             |CROSS JOIN n ORDER BY 1""".stripMargin)),

    // ----- R29: GAUSS warp scan — the LAST rasterio.enums.Resampling
    // member without an engine branch (rio_reader.py:344-360 passes the
    // full enum into WarpedVRT): the 3×3 binomial kernel [1 2 1]²/16 at
    // the source pixel nearest each output center — the kernel GDAL's
    // overview builder uses for GAUSS reductions. Same 40m-over-8m
    // fixture as r16: output centers land at dyadic source coords
    // (col 27.5+5c, row 5r−22.5 — exact in both engines), rows 0–4 sit
    // above the source (3×3 leaves the raster ⇒ nodata), and with no
    // NaNs the /16 weights make q = round(v·16) the exact integer
    // weighted sum both engines state.
    Q("r29_warp_gauss",
      (s, _) => {
        import s.implicits._
        import graft.core.{AffineTransform, Bounds, RasterSpec}
        import graft.scan.{AssetRow, ModRampReader, TileScan, WarpedGridReader}
        val spec = RasterSpec(3857, Bounds(1344000.0, 5917000.0, 1346000.0, 5919000.0), 40.0, 40.0)
        val aTf = AffineTransform.northUp(1343800.0, 5918800.0, 8.0, 8.0) // 300x300 @8m
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp3857://a",
          1343800.0, 5916400.0, 1346200.0, 5918800.0, 1.0, 0.0, epsg = 3857))
        val tiles = TileScan.scan(s, assets, spec, chunk = 25,
          readerFor = _ => WarpedGridReader(ModRampReader(251), aTf, 3857, 300, 300, spec,
            graft.ops.Resampling.Gauss))
        tiles.flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 25 + t.rowOff + r
              val gc = t.xChunk * 25 + t.colOff + c
              (t.yChunk, t.xChunk, math.round(v * 16), gr.toLong * 50 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,50) t(r) CROSS JOIN range(0,50) u(c)),
             |ctr AS (SELECT r, c,
             |         CAST(floor(27.5 + 5*c) AS BIGINT) AS kc,
             |         CAST(floor(5*r - 22.5) AS BIGINT) AS kr
             |       FROM px),
             |v AS (SELECT r, c, kr, kc FROM ctr
             |      WHERE kr - 1 >= 0 AND kr + 1 <= 299 AND kc - 1 >= 0 AND kc + 1 <= 299),
             |w AS (SELECT o, CASE WHEN o = 0 THEN 2 ELSE 1 END AS wt FROM range(-1,2) t(o)),
             |q AS (SELECT r, c,
             |        CAST(sum(dr.wt * dc.wt *
             |          (((kr+dr.o)*(kr+dr.o) + (kc+dc.o)*(kc+dc.o)) % 251)) AS BIGINT) AS q
             |      FROM v CROSS JOIN w dr CROSS JOIN w dc GROUP BY 1, 2)
             |SELECT CAST(r//25 AS INT) AS y_chunk, CAST(c//25 AS INT) AS x_chunk,
             |  count(*) AS n_px, CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*50 + c)) AS BIGINT) AS pos_chk
             |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- R30: D8 FLOW ACCUMULATION (ops.Flow) — the watershed point
    // of r26's flow-direction raster: per cell, how many upstream cells
    // drain through it. The direction raster flattens into a FUNCTIONAL
    // edge forest (≤1 out-edge, strictly descending ⇒ acyclic), then
    // synchronous rounds of acc₁=indeg, accᵢ₊₁=indeg+Σ_upstream accᵢ —
    // no double-counting because every ancestor reaches a cell through
    // exactly ONE parent. Rounds = the longest flow path, which the
    // modramp(11) DEM bounds by its RELIEF (each D8 hop strictly
    // descends an integer elevation, so ≤10 hops) — the budget is a cap
    // with fixpoint early-exit, loud when exhausted. The oracle replays
    // the same drainage via a recursive transitive closure (path
    // uniqueness makes the closure duplicate-free). Output: the
    // accumulation histogram with position checksums.
    Q("r30_flow_accum",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.{Flow, Focal}
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(11))
        val dirs = Focal.d8Flow3x3(tiles, 50, 50, 150, 150)
        Flow.accumulate(Flow.d8Edges(dirs, 50, 50, 150, 150), rounds = 16)
          .groupBy($"acc")
          .agg(count(lit(1)).as("n_cells"), sum($"node").as("pos_chk"))
          .orderBy($"acc")
      },
      Some("""WITH RECURSIVE
             |px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |       WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |dirs AS (SELECT * FROM (VALUES
             |  (0, 0, 1, 1), (1, 1, 1, 2), (2, 1, 0, 1), (3, 1, -1, 2),
             |  (4, 0, -1, 1), (5, -1, -1, 2), (6, -1, 0, 1), (7, -1, 1, 2)
             |  ) AS v(ord, dr, dc, dist2)),
             |rates AS (SELECT p.r, p.c, d.ord, d.dr, d.dc,
             |    CAST((p.r*p.r + p.c*p.c) % 11
             |       - ((p.r+d.dr)*(p.r+d.dr) + (p.c+d.dc)*(p.c+d.dc)) % 11 AS DOUBLE)
             |      / sqrt(CAST(d.dist2 AS DOUBLE)) AS rate
             |  FROM px p CROSS JOIN dirs d),
             |rk AS (SELECT r, c, dr, dc, rate,
             |    row_number() OVER (PARTITION BY r, c ORDER BY rate DESC, ord) AS rn
             |  FROM rates),
             |e AS (SELECT r*150 + c AS src, (r+dr)*150 + (c+dc) AS dst
             |      FROM rk WHERE rn = 1 AND rate > 0),
             |cl AS (SELECT src AS anc, dst AS node FROM e
             |       UNION ALL SELECT cl.anc, e.dst FROM cl JOIN e ON cl.node = e.src),
             |a AS (SELECT node, count(*) AS acc FROM cl GROUP BY 1)
             |SELECT CAST(acc AS BIGINT) AS acc, count(*) AS n_cells,
             |  CAST(sum(node) AS BIGINT) AS pos_chk
             |FROM a GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R31: STRAHLER stream order (ops.Flow.strahler) — hydrology's
    // stream-classification primitive over the same drainage forest:
    // order-1 headwaters; order rises only where ≥2 equal-order
    // tributaries meet. Computed as a MONOTONE fixpoint (all nodes start
    // at 1; the confluence rule applied synchronously only ever raises a
    // node toward its true order — provably never past it), converging
    // in longest-flow-path rounds, which the modramp(11) DEM's relief
    // bounds at 10. The oracle unrolls exactly 10 rounds of the same
    // rule in SQL (rounds past the fixpoint are no-ops, so 10 ≥ depth
    // replays the converged orders bit-for-bit). Output: the order
    // census with position checksums.
    Q("r31_strahler",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.{Flow, Focal}
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(11))
        val dirs = Focal.d8Flow3x3(tiles, 50, 50, 150, 150)
        Flow.strahler(Flow.d8Edges(dirs, 50, 50, 150, 150), rounds = 16)
          .groupBy($"ord")
          .agg(count(lit(1)).as("n_cells"), sum($"node").as("pos_chk"))
          .orderBy($"ord")
      },
      Some {
        val prefix =
          """WITH px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
            |       WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
            |dirs AS (SELECT * FROM (VALUES
            |  (0, 0, 1, 1), (1, 1, 1, 2), (2, 1, 0, 1), (3, 1, -1, 2),
            |  (4, 0, -1, 1), (5, -1, -1, 2), (6, -1, 0, 1), (7, -1, 1, 2)
            |  ) AS v(ord, dr, dc, dist2)),
            |rates AS (SELECT p.r, p.c, d.ord, d.dr, d.dc,
            |    CAST((p.r*p.r + p.c*p.c) % 11
            |       - ((p.r+d.dr)*(p.r+d.dr) + (p.c+d.dc)*(p.c+d.dc)) % 11 AS DOUBLE)
            |      / sqrt(CAST(d.dist2 AS DOUBLE)) AS rate
            |  FROM px p CROSS JOIN dirs d),
            |rk AS (SELECT r, c, dr, dc, rate,
            |    row_number() OVER (PARTITION BY r, c ORDER BY rate DESC, ord) AS rn
            |  FROM rates),
            |e AS (SELECT r*150 + c AS src, (r+dr)*150 + (c+dc) AS dst
            |      FROM rk WHERE rn = 1 AND rate > 0),
            |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            |o0 AS (SELECT node, 1 AS ord FROM nodes)""".stripMargin
        // unroll the monotone confluence rule: 10 rounds ≥ the relief-
        // bounded longest flow path, so o10 is the converged fixpoint
        val rounds = (1 to 10).map { i =>
          s""",
            |c$i AS (SELECT e.dst AS node, o.ord FROM e JOIN o${i - 1} o ON e.src = o.node),
            |g$i AS (SELECT node, ord, count(*) AS c FROM c$i GROUP BY 1, 2),
            |t$i AS (SELECT node, ord + CASE WHEN c >= 2 THEN 1 ELSE 0 END AS up
            |       FROM (SELECT node, ord, c, row_number() OVER (
            |               PARTITION BY node ORDER BY ord DESC) AS rn FROM g$i)
            |       WHERE rn = 1),
            |o$i AS (SELECT n.node, COALESCE(t.up, 1) AS ord
            |       FROM nodes n LEFT JOIN t$i t USING (node))""".stripMargin
        }.mkString
        val suffix =
          """
            |SELECT CAST(ord AS BIGINT) AS ord, count(*) AS n_cells,
            |  CAST(sum(node) AS BIGINT) AS pos_chk
            |FROM o10 GROUP BY 1 ORDER BY 1""".stripMargin
        prefix + rounds + suffix
      }),

    // ----- R32: Horn HILLSHADE (ops.Focal.hillshade3x3) — the terrain-
    // viz verb (gdaldem hillshade / ESRI) on the SAME Horn derivatives
    // and shared halo exchange as r25: slope/aspect from the 8-tap
    // gradients, shaded with sun azimuth 315°/altitude 45°. Trig is
    // transcendental, so the parity contract is the r17 lanczos
    // convention — q = round(v·256), with JVM-vs-DuckDB libm divergence
    // ~1e-12, nine orders under the quantum; the aspect branch
    // adjustments in the ESRI pseudocode are dropped as cos-periodic
    // no-ops in BOTH replays. Strict stencil prunes the border ring.
    Q("r32_hillshade",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(251))
        Focal.hillshade3x3(tiles, 50, 50, 150, 150, cellSize = 10.0)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              (t.yChunk, t.xChunk, math.round(v * 256), gr.toLong * 150 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |            WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |z AS (SELECT r, c, CAST((r*r + c*c) % 251 AS DOUBLE) AS v
             |      FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)),
             |g AS (SELECT p.r, p.c,
             |        ((ne.v + 2*e.v + se.v) - (nw.v + 2*w.v + sw.v)) / 80.0 AS dx,
             |        ((sw.v + 2*s.v + se.v) - (nw.v + 2*n2.v + ne.v)) / 80.0 AS dy
             |      FROM px p
             |      JOIN z nw ON nw.r = p.r-1 AND nw.c = p.c-1
             |      JOIN z n2 ON n2.r = p.r-1 AND n2.c = p.c
             |      JOIN z ne ON ne.r = p.r-1 AND ne.c = p.c+1
             |      JOIN z w  ON w.r  = p.r   AND w.c  = p.c-1
             |      JOIN z e  ON e.r  = p.r   AND e.c  = p.c+1
             |      JOIN z sw ON sw.r = p.r+1 AND sw.c = p.c-1
             |      JOIN z s  ON s.r  = p.r+1 AND s.c  = p.c
             |      JOIN z se ON se.r = p.r+1 AND se.c = p.c+1),
             |h AS (SELECT r, c,
             |        greatest(0.0, 255.0 * (
             |          cos(radians(45)) * cos(atan(sqrt(dx*dx + dy*dy)))
             |          + sin(radians(45)) * sin(atan(sqrt(dx*dx + dy*dy)))
             |            * cos(radians(135) - atan2(dy, -dx)))) AS hs
             |      FROM g),
             |q AS (SELECT r, c, CAST(round(hs * 256) AS BIGINT) AS q FROM h)
             |SELECT CAST(r//50 AS INT) AS y_chunk, CAST(c//50 AS INT) AS x_chunk,
             |  count(*) AS n_px, CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- J13: BUCKETED co-located join — the storage-layout answer
    // to the big⋈big shuffle (the one join shape j1–j12 still paid an
    // Exchange for): both sides written `bucketBy(8, key)` into the
    // session catalog, so the join's children are ALREADY partitioned
    // by the key and the SortMergeJoin runs with ZERO Exchange — at
    // 100 TB this is the difference between re-shuffling both fact
    // tables on every join and paying the layout cost once at write
    // time (the Hive-bucketing contract; BucketedJoinSpec pins the
    // no-Exchange plan and the unbucketed negative control). The census
    // hashes the join itself; tables are overwritten per run and
    // dropped after the result is checkpointed.
    Q("j13_bucketed_join",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_quantity")
        val ord = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
        // BUCKET-COUNT SIZING: 8 is sized for the BENCH scale (sf0.01
        // lineitem ≈ a few MB ⇒ comfortably sub-task-sized buckets).
        // The production rule is buckets ≈ table_bytes / target_task
        // (128–512 MB): at 100 TB that's O(10⁵) buckets, NOT 8 — with
        // 8, each bucket-task would scan 12.5 TB. Both sides must agree
        // on the count or the Exchange reappears (BucketedJoinSpec pins
        // that negative control at 8 vs 16).
        try {
          li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .mode("overwrite").saveAsTable("graft_j13_lineitem")
          ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .mode("overwrite").saveAsTable("graft_j13_orders")
          s.table("graft_j13_lineitem")
            .join(s.table("graft_j13_orders"), $"l_orderkey" === $"o_orderkey")
            .groupBy(pmod($"o_custkey", lit(10L)).as("bkt"))
            .agg(count(lit(1)).as("n_rows"),
                 sum($"l_quantity").cast("long").as("qty"),
                 sum($"o_custkey").as("cust_chk"))
            .orderBy($"bkt")
            .localCheckpoint(true) // materialize BEFORE dropping the tables
        } finally {
          s.sql("DROP TABLE IF EXISTS graft_j13_lineitem")
          s.sql("DROP TABLE IF EXISTS graft_j13_orders")
        }
      },
      Some("""SELECT CAST(o_custkey % 10 AS BIGINT) AS bkt, count(*) AS n_rows,
             |  CAST(sum(l_quantity) AS BIGINT) AS qty,
             |  CAST(sum(o_custkey) AS BIGINT) AS cust_chk
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- S20: STREAMING t-digest — the batch/stream symmetry member
    // for a11 (the s19 pattern applied to the quantile sketch, and the
    // reason mergeable digests exist): events arrive in 4 staged
    // micro-batches, each batch folds DISTRIBUTED into its own digest
    // (map-side combined Aggregator), and foreachBatch merges the
    // O(δ)-sized batch digest into ONE driver-held running digest —
    // bounded state at any stream length, no per-event driver traffic.
    // Gating follows a11 exactly: the final digest's per-mille
    // estimates are rank-verified against the full data in one pass and
    // the hashed verdict is the merge-order-invariant boolean (the
    // 4-way staged merge is a different merge order than a11's batch
    // tree — passing BOTH pins the invariance claim in practice).
    Q("s20_stream_tdigest",
      (s, dir) => {
        import s.implicits._
        import graft.sketch.TDigest
        val base = t(s, dir, "events").select($"event_id", $"value")
          .localCheckpoint(true)
        var digest = Array.emptyDoubleArray
        val sdir = java.nio.file.Files.createTempDirectory("graft_s20_").toFile
        sdir.deleteOnExit()
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = s.readStream.schema(base.schema)
            .parquet(sdir.getAbsolutePath)
            .writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val bd = batch.agg(TDigest.digest($"value").as("d"))
                .head.getAs[scala.collection.Seq[Double]](0).toArray
              if (bd.nonEmpty) digest = TDigest.merge(digest, bd)
              ()
            }
            .start()
          (0 until 4).foreach { bi =>
            base.filter(pmod($"event_id", lit(4L)) === bi)
              .coalesce(1).write.mode("append").parquet(sdir.getAbsolutePath)
            q.processAllAvailable()
          }
          q.stop()
        } }
        val qpm = Seq(10L, 250L, 500L, 750L, 950L, 990L)
        val ests = qpm.map(pm => pm -> TDigest.quantile(digest, pm / 1000.0))
        val aggCols = count(lit(1)).as("n") +: ests.map { case (pm, est) =>
          sum(when($"value" <= est, 1L).otherwise(0L)).as(s"r$pm") }
        val row = base.agg(aggCols.head, aggCols.tail: _*).head
        val n = row.getAs[Long]("n")
        val verdicts = ests.map { case (pm, _) =>
          val rank = row.getAs[Long](s"r$pm")
          (pm, math.abs(1000L * rank - pm * n) * 40L <= 1000L * n, n)
        }
        verdicts.toDF("q_pm", "within", "n_rows").orderBy($"q_pm")
      },
      Some("""WITH n AS (SELECT count(*) AS n_rows FROM events)
             |SELECT CAST(v.q_pm AS BIGINT) AS q_pm, true AS within, n.n_rows
             |FROM (VALUES (10),(250),(500),(750),(950),(990)) v(q_pm)
             |CROSS JOIN n ORDER BY 1""".stripMargin)),

    // ----- R33: marching-squares CONTOUR CASE census (ops.Focal
    // .marchingSquaresCase) — the raster→vector iso-line primitive: per
    // 2×2 cell the 4-bit threshold case; 0/15 emit no segment, saddles
    // 5/10 two, the rest one. All comparisons are integer-exact, the +1
    // taps ride the EXISTING depth-1 halo exchange (no new shuffle
    // design), and the census (case histogram + segment totals with
    // position checksums over the cell window [1,148]²) is what a
    // contour extraction pass reads to know which cells participate —
    // the vertex interpolation itself is a pointwise epilogue.
    Q("r33_contour_census",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(251))
        Focal.marchingSquaresCase(tiles, 50, 50, 150, 150, threshold = 125.0)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              val cs = v.toInt
              val segs = cs match {
                case 0 | 15 => 0L
                case 5 | 10 => 2L
                case _ => 1L
              }
              (cs.toLong, segs, gr.toLong * 150 + gc)
            }
          }
          .toDF("case_id", "segs", "pos")
          .groupBy($"case_id")
          .agg(count(lit(1)).as("n_cells"), sum($"segs").as("n_segments"),
               sum($"pos").as("pos_chk"))
          .orderBy($"case_id")
      },
      Some("""WITH cells AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |            WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |b AS (SELECT r, c,
             |        (CASE WHEN (r*r + c*c) % 251 >= 125 THEN 8 ELSE 0 END)
             |      + (CASE WHEN (r*r + (c+1)*(c+1)) % 251 >= 125 THEN 4 ELSE 0 END)
             |      + (CASE WHEN ((r+1)*(r+1) + (c+1)*(c+1)) % 251 >= 125 THEN 2 ELSE 0 END)
             |      + (CASE WHEN ((r+1)*(r+1) + c*c) % 251 >= 125 THEN 1 ELSE 0 END) AS cs
             |      FROM cells)
             |SELECT CAST(cs AS BIGINT) AS case_id, count(*) AS n_cells,
             |  CAST(sum(CASE WHEN cs IN (0, 15) THEN 0
             |                WHEN cs IN (5, 10) THEN 2 ELSE 1 END) AS BIGINT) AS n_segments,
             |  CAST(sum(r*150 + c) AS BIGINT) AS pos_chk
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  /** Exchanges below a plan, AQE-aware, needed in-query where a plan
    * shape IS the contract under test. Recurses into materialized query
    * stages: QueryStageExec is a LEAF node, so a naive collect over an
    * executed adaptive plan sees NOTHING inside the stages — a zero
    * count would be vacuously "clean". */
  /** Recursive delete for the per-run scratch dirs (bucketed-index
    * queries): File.deleteOnExit removes only EMPTY directories, so a
    * parquet tree must be walked bottom-up. */
  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  private def shuffleExchanges(
      p: org.apache.spark.sql.execution.SparkPlan): Int =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        shuffleExchanges(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        shuffleExchanges(q.plan)
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
    }.sum

  /** SortMergeJoins below a plan, same stage-aware traversal. */
  private def sortMergeJoins(
      p: org.apache.spark.sql.execution.SparkPlan): Int =
    sortMergeJoinNodes(p).length

  /** The SortMergeJoin NODES below a plan (stage-aware), for asserting
    * on a specific side's subtree. */
  private def sortMergeJoinNodes(
      p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.joins.SortMergeJoinExec] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        sortMergeJoinNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        sortMergeJoinNodes(q.plan)
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => Seq(j)
    }.flatten

  private lazy val roundFifteen: Seq[Q] = Seq(

    // ----- J14: STORAGE-PARTITIONED band align — j13's layout thesis
    // applied to the engine's own raster core. TileAlgebra.binary over
    // an unpartitioned tile source shuffles BOTH tile sides on
    // (itemIdx, yChunk, xChunk) — at 100 TB, two corpus-sized Exchanges
    // per NDVI. binaryAligned instead cogroups two TileSourceV2 scans on
    // EXACTLY their advertised partition keys (KeyGroupedPartitioning on
    // (yChunk, xChunk), HasPartitionKey per chunk), so chunk i zips with
    // chunk i with ZERO Exchange and items align inside the task (the
    // reference analog: dask aligns same-grid chunks for free,
    // to_dask.py:88-103). The query ASSERTS the plan shape (0 shuffles,
    // stage-aware traversal, teeth-out in every verify/bench run) and
    // hashes the zipped values: nir = modramp(13), red = modramp(7),
    // f = n*1000 + r — exact small-integer doubles, replayable in SQL.
    // SpjSpec pins the degradation (mismatched chunk grids ⇒ exchanges
    // reappear), the conf-free raw-SMJ-on-partition-keys form, and
    // legacy-scan equality.
    Q("j14_spj_band_align",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.TileAlgebra
        import graft.scan.{AssetRow, ModRampReader}
        import graft.scan.v2.TileSourceV2
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        def assets(band: String) = Seq(AssetRow(0, 0, band, 0L,
          s"modramp://$band", 0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val nir = TileSourceV2.scan(s, assets("nir"), spec, chunk = 50,
          readerFor = _ => ModRampReader(13))
        val red = TileSourceV2.scan(s, assets("red"), spec, chunk = 50,
          readerFor = _ => ModRampReader(7))
        // ASSERT ON THE PRE-CHECKPOINT PLAN: localCheckpoint returns a
        // Dataset over a LogicalRDD whose plan is a shuffle-free scan by
        // construction — asserting on it would be vacuous. EnsureRequirements
        // has already run in the initial adaptive plan, so inserted
        // exchanges are visible without an action; broadcast is disabled
        // for the window so a tiny-side BHJ can't mask an SPJ regression
        // (the SMJ count pins the join shape).
        val zipped = withConf(s)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val z = TileAlgebra.binaryAligned(nir, red, 50, 50, "q")(
            (n, r) => n * 1000.0 + r)
          val plan = z.queryExecution.executedPlan
          require(sortMergeJoins(plan) == 1,
            s"j14: expected the band align to SortMergeJoin:\n$plan")
          require(shuffleExchanges(plan) == 0,
            "j14: the storage-partitioned band align planned a shuffle — " +
            s"KeyGroupedPartitioning was not honored:\n$plan")
          z.localCheckpoint(true) // materializes inside the conf window
        }
        zipped.flatMap { t =>
          for {
            r <- 0 until t.height; c <- 0 until t.width
          } yield {
            val gr = t.yChunk * 50 + r; val gc = t.xChunk * 50 + c
            (t.yChunk, t.xChunk, math.round(t.pixels(r * t.width + c)),
              gr.toLong * 150 + gc)
          }
        }.toDF("y_chunk", "x_chunk", "q", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c, r*r + c*c AS z
             |            FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)),
             |q AS (SELECT r, c, (z % 13) * 1000 + (z % 7) AS q FROM px)
             |SELECT CAST(r//50 AS INT) AS y_chunk, CAST(c//50 AS INT) AS x_chunk,
             |  count(*) AS n_px, CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- R34: marching-squares VERTEX INTERPOLATION — r33's census
    // finished into actual iso-line geometry (the r14 verdict's promoted
    // task): per participating cell, the linearly-interpolated
    // edge-crossing vertex PAIR per segment, t = (T−v0)/(v1−v0) along
    // each crossed edge. Over the integer modramp(13) field with
    // half-integer levels every t is ONE correctly-rounded IEEE divide of
    // exact inputs and each coordinate one add — both engines compute the
    // identical double (r26/r22 discipline), so the census hashes
    // quantized coordinates (q = round(v·1024); exact halves only occur
    // for dyadic t where q is an exact integer, so half-rounding
    // conventions never diverge). Saddles resolve center-below (each
    // inside corner isolated) — stated in the operator doc and replayed
    // by the oracle's case table. Rides the shared depth-1 halo exchange;
    // emits O(crossed cells) rows, no join. Census per level:
    // segment count, the four quantized-coordinate sums (endpoint order
    // is part of the contract — summing y1/y2 separately catches flips),
    // and the anchor-cell checksum.
    Q("r34_contour_vertices",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(13))
        Focal.contourSegments(tiles, 50, 50, 150, 150, Seq(3.5, 6.5, 9.5))
          .map(g => (g.level,
            math.round(g.y1 * 1024.0), math.round(g.x1 * 1024.0),
            math.round(g.y2 * 1024.0), math.round(g.x2 * 1024.0),
            g.cellR.toLong * 150 + g.cellC))
          .toDF("level", "y1q", "x1q", "y2q", "x2q", "pos")
          .groupBy($"level")
          .agg(count(lit(1)).as("n_segments"),
               sum($"y1q").as("sum_y1q"), sum($"x1q").as("sum_x1q"),
               sum($"y2q").as("sum_y2q"), sum($"x2q").as("sum_x2q"),
               sum($"pos").as("cell_chk"))
          .orderBy($"level")
      },
      Some("""WITH lv AS (SELECT unnest([3.5, 6.5, 9.5]) AS L),
             |cells AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |          WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |v AS (SELECT r, c, L,
             |        CAST((r*r + c*c) % 13 AS DOUBLE) AS tl,
             |        CAST((r*r + (c+1)*(c+1)) % 13 AS DOUBLE) AS tr,
             |        CAST(((r+1)*(r+1) + (c+1)*(c+1)) % 13 AS DOUBLE) AS br,
             |        CAST(((r+1)*(r+1) + c*c) % 13 AS DOUBLE) AS bl
             |      FROM cells CROSS JOIN lv),
             |cv AS (SELECT *, (CASE WHEN tl >= L THEN 8 ELSE 0 END)
             |               + (CASE WHEN tr >= L THEN 4 ELSE 0 END)
             |               + (CASE WHEN br >= L THEN 2 ELSE 0 END)
             |               + (CASE WHEN bl >= L THEN 1 ELSE 0 END) AS k
             |       FROM v),
             |segs AS (SELECT *, unnest(CASE k
             |    WHEN 1 THEN [[3,2]] WHEN 2 THEN [[2,1]] WHEN 3 THEN [[3,1]]
             |    WHEN 4 THEN [[0,1]] WHEN 5 THEN [[0,1],[3,2]] WHEN 6 THEN [[0,2]]
             |    WHEN 7 THEN [[3,0]] WHEN 8 THEN [[3,0]] WHEN 9 THEN [[0,2]]
             |    WHEN 10 THEN [[3,0],[2,1]] WHEN 11 THEN [[0,1]] WHEN 12 THEN [[3,1]]
             |    WHEN 13 THEN [[2,1]] ELSE [[3,2]] END) AS ee
             |  FROM cv WHERE k NOT IN (0, 15)),
             |co AS (SELECT r, c, L,
             |    CASE ee[1] WHEN 0 THEN CAST(r AS DOUBLE)
             |      WHEN 1 THEN r + (L - tr) / (br - tr)
             |      WHEN 2 THEN CAST(r + 1 AS DOUBLE)
             |      ELSE r + (L - tl) / (bl - tl) END AS y1,
             |    CASE ee[1] WHEN 0 THEN c + (L - tl) / (tr - tl)
             |      WHEN 1 THEN CAST(c + 1 AS DOUBLE)
             |      WHEN 2 THEN c + (L - bl) / (br - bl)
             |      ELSE CAST(c AS DOUBLE) END AS x1,
             |    CASE ee[2] WHEN 0 THEN CAST(r AS DOUBLE)
             |      WHEN 1 THEN r + (L - tr) / (br - tr)
             |      WHEN 2 THEN CAST(r + 1 AS DOUBLE)
             |      ELSE r + (L - tl) / (bl - tl) END AS y2,
             |    CASE ee[2] WHEN 0 THEN c + (L - tl) / (tr - tl)
             |      WHEN 1 THEN CAST(c + 1 AS DOUBLE)
             |      WHEN 2 THEN c + (L - bl) / (br - bl)
             |      ELSE CAST(c AS DOUBLE) END AS x2
             |  FROM segs)
             |SELECT L AS level, count(*) AS n_segments,
             |  CAST(sum(CAST(round(y1 * 1024) AS BIGINT)) AS BIGINT) AS sum_y1q,
             |  CAST(sum(CAST(round(x1 * 1024) AS BIGINT)) AS BIGINT) AS sum_x1q,
             |  CAST(sum(CAST(round(y2 * 1024) AS BIGINT)) AS BIGINT) AS sum_y2q,
             |  CAST(sum(CAST(round(x2 * 1024) AS BIGINT)) AS BIGINT) AS sum_x2q,
             |  CAST(sum(r * 150 + c) AS BIGINT) AS cell_chk
             |FROM co GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R35: WATERSHED BASINS — the third hydrology consumer of the
    // D8 forest (after accumulation r30 and Strahler r31): every cell
    // labeled with its terminal pit/outlet via POINTER JUMPING
    // (parent ← grandparent, ⌈log₂(path)⌉ rounds — relief-bounded paths
    // make that ~log₂(relief), here ≤ 4 rounds on the mod-11 ramp's
    // ≤ 10-hop paths). Each round one node-sized self-join, lineage
    // checkpointed, loud cap guard (the Flow/KCore discipline). The
    // oracle replays basin assignment with a recursive closure over the
    // same SQL-derived edge list and checks the per-basin area census.
    Q("r35_basins",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.{Flow, Focal}
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(11))
        val dirs = Focal.d8Flow3x3(tiles, 50, 50, 150, 150)
        Flow.basins(Flow.d8Edges(dirs, 50, 50, 150, 150), rounds = 8)
          .groupBy($"basin")
          .agg(count(lit(1)).as("n_cells"), sum($"node").as("pos_chk"))
          .orderBy($"basin")
      },
      Some("""WITH RECURSIVE
             |px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |       WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |dirs AS (SELECT * FROM (VALUES
             |  (0, 0, 1, 1), (1, 1, 1, 2), (2, 1, 0, 1), (3, 1, -1, 2),
             |  (4, 0, -1, 1), (5, -1, -1, 2), (6, -1, 0, 1), (7, -1, 1, 2)
             |  ) AS v(ord, dr, dc, dist2)),
             |rates AS (SELECT p.r, p.c, d.ord, d.dr, d.dc,
             |    CAST((p.r*p.r + p.c*p.c) % 11
             |       - ((p.r+d.dr)*(p.r+d.dr) + (p.c+d.dc)*(p.c+d.dc)) % 11 AS DOUBLE)
             |      / sqrt(CAST(d.dist2 AS DOUBLE)) AS rate
             |  FROM px p CROSS JOIN dirs d),
             |rk AS (SELECT r, c, dr, dc, rate,
             |    row_number() OVER (PARTITION BY r, c ORDER BY rate DESC, ord) AS rn
             |  FROM rates),
             |e AS (SELECT r*150 + c AS src, (r+dr)*150 + (c+dc) AS dst
             |      FROM rk WHERE rn = 1 AND rate > 0),
             |walk AS (SELECT src AS node, dst AS cur FROM e
             |         UNION ALL SELECT w.node, e.dst FROM walk w JOIN e ON w.cur = e.src),
             |fin AS (SELECT node, cur AS basin FROM walk
             |          WHERE cur NOT IN (SELECT src FROM e)
             |        UNION ALL
             |        SELECT DISTINCT dst, dst FROM e
             |          WHERE dst NOT IN (SELECT src FROM e))
             |SELECT CAST(basin AS BIGINT) AS basin, count(*) AS n_cells,
             |  CAST(sum(node) AS BIGINT) AS pos_chk
             |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R38: FLOW-PATH LENGTH (distance to outlet) — hydrology's
    // fourth D8-forest read-out: per cell, HOPS along the flow path to
    // its terminal pit/outlet (× cellsize for metric length). Shares
    // the r35 pointer-jumping resolver with Wyllie distance
    // accumulation: log₂(relief)-ish rounds, one node-sized self-join
    // each, same loud guards. Census: per distance, cell count, basin
    // checksum, position checksum — the (dist, basin) pair verifies the
    // accumulation AND the labeling through one read-out.
    Q("r38_flow_distance",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.{Flow, Focal}
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(11))
        val dirs = Focal.d8Flow3x3(tiles, 50, 50, 150, 150)
        Flow.distanceToOutlet(Flow.d8Edges(dirs, 50, 50, 150, 150), rounds = 8)
          .groupBy($"dist")
          .agg(count(lit(1)).as("n_cells"), sum($"basin").as("basin_chk"),
               sum($"node").as("pos_chk"))
          .orderBy($"dist")
      },
      Some("""WITH RECURSIVE
             |px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |       WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |dirs AS (SELECT * FROM (VALUES
             |  (0, 0, 1, 1), (1, 1, 1, 2), (2, 1, 0, 1), (3, 1, -1, 2),
             |  (4, 0, -1, 1), (5, -1, -1, 2), (6, -1, 0, 1), (7, -1, 1, 2)
             |  ) AS v(ord, dr, dc, dist2)),
             |rates AS (SELECT p.r, p.c, d.ord, d.dr, d.dc,
             |    CAST((p.r*p.r + p.c*p.c) % 11
             |       - ((p.r+d.dr)*(p.r+d.dr) + (p.c+d.dc)*(p.c+d.dc)) % 11 AS DOUBLE)
             |      / sqrt(CAST(d.dist2 AS DOUBLE)) AS rate
             |  FROM px p CROSS JOIN dirs d),
             |rk AS (SELECT r, c, dr, dc, rate,
             |    row_number() OVER (PARTITION BY r, c ORDER BY rate DESC, ord) AS rn
             |  FROM rates),
             |e AS (SELECT r*150 + c AS src, (r+dr)*150 + (c+dc) AS dst
             |      FROM rk WHERE rn = 1 AND rate > 0),
             |walk AS (SELECT src AS node, dst AS cur FROM e
             |         UNION ALL SELECT w.node, e.dst FROM walk w JOIN e ON w.cur = e.src),
             |fin AS (SELECT w.node, count(*) AS dist,
             |          min(CASE WHEN w.cur NOT IN (SELECT src FROM e)
             |                   THEN w.cur END) AS basin
             |        FROM walk w GROUP BY 1
             |        UNION ALL
             |        SELECT DISTINCT dst, 0, dst FROM e
             |          WHERE dst NOT IN (SELECT src FROM e))
             |SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_cells,
             |  CAST(sum(basin) AS BIGINT) AS basin_chk,
             |  CAST(sum(node) AS BIGINT) AS pos_chk
             |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R39: ZONAL STATISTICS OVER DATA-DERIVED ZONES — the
    // hydrology capstone composition: the r35 basin labels ARE the zone
    // raster (the classic "mean elevation per watershed" product), so
    // zonal reduces to one equi-join of the DEM's pixel stream against
    // the basin table plus a map-side-combined agg — no polygons, no
    // point-in-polygon test, zones born from the data itself. Exercises
    // the operators composing (d8 → edges → basins → join back to
    // pixels) rather than in isolation; integer DEM keeps every sum
    // exact.
    Q("r39_basin_zonal",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.{Flow, Focal}
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(11))
        val dirs = Focal.d8Flow3x3(tiles, 50, 50, 150, 150)
        val basins = Flow.basins(Flow.d8Edges(dirs, 50, 50, 150, 150), rounds = 8)
        val px = tiles.flatMap { t =>
          for { r <- 0 until t.height; c <- 0 until t.width } yield {
            val gr = t.yChunk * 50 + t.rowOff + r
            val gc = t.xChunk * 50 + t.colOff + c
            (gr.toLong * 150 + gc, math.round(t.pixels(r * t.width + c)))
          }
        }.toDF("node", "z")
        basins.join(px, Seq("node"))
          .groupBy($"basin")
          .agg(count(lit(1)).as("n_cells"), sum($"z").as("sum_z"),
               max($"z").as("max_z"), sum($"node").as("pos_chk"))
          .orderBy($"basin")
      },
      Some("""WITH RECURSIVE
             |px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |       WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |dirs AS (SELECT * FROM (VALUES
             |  (0, 0, 1, 1), (1, 1, 1, 2), (2, 1, 0, 1), (3, 1, -1, 2),
             |  (4, 0, -1, 1), (5, -1, -1, 2), (6, -1, 0, 1), (7, -1, 1, 2)
             |  ) AS v(ord, dr, dc, dist2)),
             |rates AS (SELECT p.r, p.c, d.ord, d.dr, d.dc,
             |    CAST((p.r*p.r + p.c*p.c) % 11
             |       - ((p.r+d.dr)*(p.r+d.dr) + (p.c+d.dc)*(p.c+d.dc)) % 11 AS DOUBLE)
             |      / sqrt(CAST(d.dist2 AS DOUBLE)) AS rate
             |  FROM px p CROSS JOIN dirs d),
             |rk AS (SELECT r, c, dr, dc, rate,
             |    row_number() OVER (PARTITION BY r, c ORDER BY rate DESC, ord) AS rn
             |  FROM rates),
             |e AS (SELECT r*150 + c AS src, (r+dr)*150 + (c+dc) AS dst
             |      FROM rk WHERE rn = 1 AND rate > 0),
             |walk AS (SELECT src AS node, dst AS cur FROM e
             |         UNION ALL SELECT w.node, e.dst FROM walk w JOIN e ON w.cur = e.src),
             |fin AS (SELECT node, cur AS basin FROM walk
             |          WHERE cur NOT IN (SELECT src FROM e)
             |        UNION ALL
             |        SELECT DISTINCT dst, dst FROM e
             |          WHERE dst NOT IN (SELECT src FROM e)),
             |z AS (SELECT f.node, f.basin,
             |        ((f.node // 150) * (f.node // 150)
             |          + (f.node % 150) * (f.node % 150)) % 11 AS z
             |      FROM fin f)
             |SELECT CAST(basin AS BIGINT) AS basin, count(*) AS n_cells,
             |  CAST(sum(z) AS BIGINT) AS sum_z, CAST(max(z) AS BIGINT) AS max_z,
             |  CAST(sum(node) AS BIGINT) AS pos_chk
             |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R36: CONTOUR POLYLINE STITCHING — r34's segments merged into
    // whole iso-lines with stable ids (ops.Contour.stitch): polylines are
    // the connected components of the segment graph (vertex = quantized
    // coordinate key, exact because adjacent cells emit BIT-IDENTICAL
    // doubles for their shared crossing), labeled with the dedup family's
    // distributed min-label + pointer-jump CC — no geometry on the
    // driver. Marching squares bounds every vertex degree at 2, so a
    // component is a simple path or cycle; the census classifies CLOSED
    // (n_vertices == n_segments) vs open, the contour-legend read-out.
    // Oracle: the r34 interpolation replay extended with a recursive
    // reachability closure (UNION dedup makes cycles terminate) and the
    // same min-key labels — poly ids are data-determined, so the hashed
    // id checksum replays exactly.
    Q("r36_contour_polylines",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.{Contour, Focal}
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(13))
        val segs = Focal.contourSegments(tiles, 50, 50, 150, 150, Seq(3.5, 6.5))
        Contour.census(Contour.stitch(segs))
          .groupBy($"level")
          .agg(count(lit(1)).as("n_polys"),
               sum(when($"closed", 1L).otherwise(0L)).as("n_closed"),
               sum($"n_segments").as("n_segments"),
               max($"n_segments").as("max_len"),
               sum($"poly").as("poly_chk"))
          .orderBy($"level")
      },
      Some("""WITH RECURSIVE
             |lv AS (SELECT unnest([3.5, 6.5]) AS L),
             |cells AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |          WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |v AS (SELECT r, c, L,
             |        CAST((r*r + c*c) % 13 AS DOUBLE) AS tl,
             |        CAST((r*r + (c+1)*(c+1)) % 13 AS DOUBLE) AS tr,
             |        CAST(((r+1)*(r+1) + (c+1)*(c+1)) % 13 AS DOUBLE) AS br,
             |        CAST(((r+1)*(r+1) + c*c) % 13 AS DOUBLE) AS bl
             |      FROM cells CROSS JOIN lv),
             |cv AS (SELECT *, (CASE WHEN tl >= L THEN 8 ELSE 0 END)
             |               + (CASE WHEN tr >= L THEN 4 ELSE 0 END)
             |               + (CASE WHEN br >= L THEN 2 ELSE 0 END)
             |               + (CASE WHEN bl >= L THEN 1 ELSE 0 END) AS k
             |       FROM v),
             |segs AS (SELECT *, unnest(CASE k
             |    WHEN 1 THEN [[3,2]] WHEN 2 THEN [[2,1]] WHEN 3 THEN [[3,1]]
             |    WHEN 4 THEN [[0,1]] WHEN 5 THEN [[0,1],[3,2]] WHEN 6 THEN [[0,2]]
             |    WHEN 7 THEN [[3,0]] WHEN 8 THEN [[3,0]] WHEN 9 THEN [[0,2]]
             |    WHEN 10 THEN [[3,0],[2,1]] WHEN 11 THEN [[0,1]] WHEN 12 THEN [[3,1]]
             |    WHEN 13 THEN [[2,1]] ELSE [[3,2]] END) AS ee
             |  FROM cv WHERE k NOT IN (0, 15)),
             |co AS (SELECT r, c, L,
             |    CASE ee[1] WHEN 0 THEN CAST(r AS DOUBLE)
             |      WHEN 1 THEN r + (L - tr) / (br - tr)
             |      WHEN 2 THEN CAST(r + 1 AS DOUBLE)
             |      ELSE r + (L - tl) / (bl - tl) END AS y1,
             |    CASE ee[1] WHEN 0 THEN c + (L - tl) / (tr - tl)
             |      WHEN 1 THEN CAST(c + 1 AS DOUBLE)
             |      WHEN 2 THEN c + (L - bl) / (br - bl)
             |      ELSE CAST(c AS DOUBLE) END AS x1,
             |    CASE ee[2] WHEN 0 THEN CAST(r AS DOUBLE)
             |      WHEN 1 THEN r + (L - tr) / (br - tr)
             |      WHEN 2 THEN CAST(r + 1 AS DOUBLE)
             |      ELSE r + (L - tl) / (bl - tl) END AS y2,
             |    CASE ee[2] WHEN 0 THEN c + (L - tl) / (tr - tl)
             |      WHEN 1 THEN CAST(c + 1 AS DOUBLE)
             |      WHEN 2 THEN c + (L - bl) / (br - bl)
             |      ELSE CAST(c AS DOUBLE) END AS x2
             |  FROM segs),
             |vs AS (SELECT L,
             |    CAST(round(y1*1024) AS BIGINT)*4294967296 + CAST(round(x1*1024) AS BIGINT) AS k1,
             |    CAST(round(y2*1024) AS BIGINT)*4294967296 + CAST(round(x2*1024) AS BIGINT) AS k2
             |  FROM co),
             |ad AS (SELECT k1 AS a, k2 AS b FROM vs UNION SELECT k2, k1 FROM vs),
             |reach AS (SELECT a, a AS b FROM (SELECT DISTINCT a FROM ad)
             |          UNION
             |          SELECT r.a, ad.b FROM reach r JOIN ad ON r.b = ad.a),
             |lbl AS (SELECT a AS node, min(b) AS poly FROM reach GROUP BY 1),
             |sl AS (SELECT vs.L, vs.k1, vs.k2, lbl.poly FROM vs JOIN lbl ON vs.k1 = lbl.node),
             |pv AS (SELECT L, poly, count(DISTINCT k) AS n_vertices
             |       FROM (SELECT L, poly, k1 AS k FROM sl
             |             UNION ALL SELECT L, poly, k2 FROM sl)
             |       GROUP BY 1, 2),
             |ps AS (SELECT L, poly, count(*) AS n_segments FROM sl GROUP BY 1, 2),
             |pc AS (SELECT ps.L, ps.poly, ps.n_segments, pv.n_vertices,
             |         (pv.n_vertices = ps.n_segments) AS closed
             |       FROM ps JOIN pv ON ps.L = pv.L AND ps.poly = pv.poly)
             |SELECT L AS level, count(*) AS n_polys,
             |  CAST(sum(CASE WHEN closed THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
             |  CAST(sum(n_segments) AS BIGINT) AS n_segments,
             |  CAST(max(n_segments) AS BIGINT) AS max_len,
             |  CAST(sum(poly) AS BIGINT) AS poly_chk
             |FROM pc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R37: ORDERED polyline vertices — the geometry export on top
    // of r36's stitch, via WYLLIE LIST RANKING (pointer jumping with
    // distance accumulation): a contour line can be arbitrarily long, so
    // per-vertex ordinals are computed in ⌈log₂(longest line)⌉ rounds of
    // one self-join each — never a sequential walk in one task. Census
    // hashes ord×quantized-coordinate products per level (any
    // permutation, reversal, or off-by-one of the sequence changes the
    // sums), plus first==last ring closure counts. Oracle: a sequential
    // recursive walk per polyline in SQL replaying the SAME start rules
    // (min degree-1 endpoint, else min vertex with the back-edge cut,
    // first step toward the min neighbor).
    Q("r37_contour_ordered",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.{Contour, Focal}
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(13))
        val segs = Focal.contourSegments(tiles, 50, 50, 150, 150, Seq(3.5, 6.5))
        val ov = Contour.orderedVertices(Contour.stitch(segs), rounds = 16)
        ov.select($"level", $"poly", $"ord",
            round($"y" * 1024.0).cast("long").as("yq"),
            round($"x" * 1024.0).cast("long").as("xq"))
          .groupBy($"level")
          .agg(count(lit(1)).as("n_vertices"),
               countDistinct($"poly").as("n_polys"),
               max($"ord").as("max_ord"),
               sum($"ord" * $"yq").as("ordy_chk"),
               sum($"ord" * $"xq").as("ordx_chk"))
          .orderBy($"level")
      },
      Some("""WITH RECURSIVE
             |lv AS (SELECT unnest([3.5, 6.5]) AS L),
             |cells AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |          WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |v AS (SELECT r, c, L,
             |        CAST((r*r + c*c) % 13 AS DOUBLE) AS tl,
             |        CAST((r*r + (c+1)*(c+1)) % 13 AS DOUBLE) AS tr,
             |        CAST(((r+1)*(r+1) + (c+1)*(c+1)) % 13 AS DOUBLE) AS br,
             |        CAST(((r+1)*(r+1) + c*c) % 13 AS DOUBLE) AS bl
             |      FROM cells CROSS JOIN lv),
             |cv AS (SELECT *, (CASE WHEN tl >= L THEN 8 ELSE 0 END)
             |               + (CASE WHEN tr >= L THEN 4 ELSE 0 END)
             |               + (CASE WHEN br >= L THEN 2 ELSE 0 END)
             |               + (CASE WHEN bl >= L THEN 1 ELSE 0 END) AS k
             |       FROM v),
             |segs AS (SELECT *, unnest(CASE k
             |    WHEN 1 THEN [[3,2]] WHEN 2 THEN [[2,1]] WHEN 3 THEN [[3,1]]
             |    WHEN 4 THEN [[0,1]] WHEN 5 THEN [[0,1],[3,2]] WHEN 6 THEN [[0,2]]
             |    WHEN 7 THEN [[3,0]] WHEN 8 THEN [[3,0]] WHEN 9 THEN [[0,2]]
             |    WHEN 10 THEN [[3,0],[2,1]] WHEN 11 THEN [[0,1]] WHEN 12 THEN [[3,1]]
             |    WHEN 13 THEN [[2,1]] ELSE [[3,2]] END) AS ee
             |  FROM cv WHERE k NOT IN (0, 15)),
             |co AS (SELECT r, c, L,
             |    CASE ee[1] WHEN 0 THEN CAST(r AS DOUBLE)
             |      WHEN 1 THEN r + (L - tr) / (br - tr)
             |      WHEN 2 THEN CAST(r + 1 AS DOUBLE)
             |      ELSE r + (L - tl) / (bl - tl) END AS y1,
             |    CASE ee[1] WHEN 0 THEN c + (L - tl) / (tr - tl)
             |      WHEN 1 THEN CAST(c + 1 AS DOUBLE)
             |      WHEN 2 THEN c + (L - bl) / (br - bl)
             |      ELSE CAST(c AS DOUBLE) END AS x1,
             |    CASE ee[2] WHEN 0 THEN CAST(r AS DOUBLE)
             |      WHEN 1 THEN r + (L - tr) / (br - tr)
             |      WHEN 2 THEN CAST(r + 1 AS DOUBLE)
             |      ELSE r + (L - tl) / (bl - tl) END AS y2,
             |    CASE ee[2] WHEN 0 THEN c + (L - tl) / (tr - tl)
             |      WHEN 1 THEN CAST(c + 1 AS DOUBLE)
             |      WHEN 2 THEN c + (L - bl) / (br - bl)
             |      ELSE CAST(c AS DOUBLE) END AS x2
             |  FROM segs),
             |vs AS (SELECT L,
             |    CAST(round(y1*1024) AS BIGINT)*4294967296 + CAST(round(x1*1024) AS BIGINT) AS k1,
             |    CAST(round(y2*1024) AS BIGINT)*4294967296 + CAST(round(x2*1024) AS BIGINT) AS k2
             |  FROM co),
             |ad AS (SELECT L, k1 AS a, k2 AS b FROM vs UNION SELECT L, k2, k1 FROM vs),
             |nbr AS (SELECT L, a AS v, min(b) AS n1, max(b) AS n2, count(*) AS deg
             |        FROM ad GROUP BY 1, 2),
             |reach AS (SELECT L, a, a AS b FROM (SELECT DISTINCT L, a FROM ad)
             |          UNION
             |          SELECT r.L, r.a, ad.b FROM reach r
             |          JOIN ad ON r.L = ad.L AND r.b = ad.a),
             |lbl AS (SELECT L, a AS node, min(b) AS poly FROM reach GROUP BY 1, 2),
             |st AS (SELECT n.L, l.poly,
             |         coalesce(min(CASE WHEN n.deg = 1 THEN n.v END), l.poly) AS startV
             |       FROM nbr n JOIN lbl l ON n.L = l.L AND n.v = l.node
             |       GROUP BY 1, 2),
             |wk AS (SELECT L, poly, startV, 0 AS ord,
             |         CAST(NULL AS BIGINT) AS prev, startV AS cur
             |       FROM st
             |       UNION ALL
             |       SELECT w.L, w.poly, w.startV, w.ord + 1, w.cur,
             |         CASE WHEN w.prev IS NULL THEN n.n1
             |              WHEN n.n1 = w.prev THEN n.n2 ELSE n.n1 END
             |       FROM wk w JOIN nbr n ON n.L = w.L AND n.v = w.cur
             |       WHERE NOT (n.deg = 1 AND w.ord > 0)
             |         AND NOT (w.cur = w.startV AND w.ord > 0))
             |SELECT L AS level, count(*) AS n_vertices,
             |  CAST(count(DISTINCT poly) AS BIGINT) AS n_polys,
             |  CAST(max(ord) AS BIGINT) AS max_ord,
             |  CAST(sum(ord * (cur // 4294967296)) AS BIGINT) AS ordy_chk,
             |  CAST(sum(ord * (cur % 4294967296)) AS BIGINT) AS ordx_chk
             |FROM wk GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- S21: STREAMING exact-substring contamination screen — x48's
    // batch/stream symmetry member (the s19/s20 pattern): eval documents
    // arrive in 4 staged micro-batches and each batch is screened
    // against the STORED train-gram index (all rungs in one frame, built
    // once, checkpointed, and never re-shuffled: the batch side
    // BROADCASTS into the join — the s9 admission-index shape, one
    // map-side index scan per batch). Driver state is O(ladder): eval
    // docs partition across batches (each doc arrives exactly once), so
    // per-batch (n_docs_hit, id_chk) censuses are DISJOINT and simply
    // add — no per-doc driver set, bounded at any stream length. Gate:
    // the accumulated ladder census must equal the batch answer at the
    // HASH level (oracle replays the same 60-bit md5 prefix per gram,
    // so engine and oracle agree bit-for-bit even under collisions;
    // x51 gates string-exact semantics via the candidate verify pass).
    Q("s21_stream_decontam",
      (s, dir) => {
        import s.implicits._
        import graft.text.ExactSubstr
        val lengths = Seq(8, 16, 32)
        val docs = t(s, dir, "documents").select($"doc_id", $"text")
        // ONE multi-rung HASH index (8-byte 60-bit md5 gram keys — the
        // scale form: the build shuffle, the checkpoint, and every
        // screen scan move 8 bytes/gram instead of L chars), built once
        // and checkpointed: per-batch screens broadcast the batch
        // against it, so the index is never re-shuffled (the s9
        // admission shape; was 3 checkpointed string frames re-exchanged
        // by 12 stream-static joins — 21 s at sf0.1, then 7.8 s
        // string-broadcast, now hashed). A 60-bit collision could only
        // over-flag (conservative); the oracle replays the same md5
        // prefix so even that would stay hash-green.
        val idx = ExactSubstr
          .buildHashIndex(docs.filter($"doc_id" % 5 =!= 0), "text", lengths)
          .localCheckpoint(true)
        val ev = docs.filter($"doc_id" % 5 === 0).localCheckpoint(true)
        val acc = scala.collection.mutable.Map.empty[Int, (Long, Long)]
          .withDefaultValue((0L, 0L))
        val sdir = java.nio.file.Files.createTempDirectory("graft_s21_").toFile
        sdir.deleteOnExit()
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = s.readStream.schema(ev.schema)
            .parquet(sdir.getAbsolutePath)
            .writeStream
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              ExactSubstr
                .screenBatchHashed(idx, batch, "text", "doc_id", lengths)
                .collect().foreach { row =>
                  val l = row.getInt(0)
                  val (n0, c0) = acc(l)
                  acc(l) = (n0 + row.getLong(1), c0 + row.getLong(2))
                }
              ()
            }
            .start()
          (0 until 4).foreach { bi =>
            ev.filter(expr("pmod(doc_id div 5, 4)") === bi)
              .coalesce(1).write.mode("append").parquet(sdir.getAbsolutePath)
            q.processAllAvailable()
          }
          q.stop()
        } }
        lengths.map(l => (l, acc(l)._1, acc(l)._2))
          .toDF("gram_len", "n_docs_hit", "id_chk")
          .orderBy($"gram_len")
      },
      Some("""WITH Ls AS (SELECT unnest([8, 16, 32]) AS L),
             |pos AS (SELECT CAST(i AS INT) AS i FROM range(1, 4097) t(i)),
             |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
             |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
             |evg AS (SELECT DISTINCT e.doc_id, Ls.L,
             |          ('0x'||substr(md5(substr(e.text, pos.i,
             |            CAST(Ls.L AS INT))),1,15))::BIGINT AS h
             |        FROM ev e CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(e.text) - Ls.L + 1),
             |trg AS (SELECT DISTINCT Ls.L,
             |          ('0x'||substr(md5(substr(t2.text, pos.i,
             |            CAST(Ls.L AS INT))),1,15))::BIGINT AS h
             |        FROM tr t2 CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(t2.text) - Ls.L + 1),
             |hit AS (SELECT DISTINCT evg.doc_id, evg.L FROM evg
             |        JOIN trg ON evg.L = trg.L AND evg.h = trg.h)
             |SELECT CAST(L AS INT) AS gram_len, count(*) AS n_docs_hit,
             |  CAST(sum(doc_id) AS BIGINT) AS id_chk
             |FROM hit GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X48: EXACT-SUBSTRING contamination census (Lee et al.'s
    // ExactSubstr, the exact-match complement of x6's gram overlap and
    // x24's contamination matrix): for each probe length L in the
    // ladder, which eval docs share a VERBATIM L-char substring with any
    // train doc. Hits are monotone downward in L by containment, so the
    // largest hitting L brackets each doc's longest shared substring —
    // the decontamination decision read-out (drop on ≥ threshold). One
    // codegen'd gram-HASH explode + one 8-byte equi-join per L (the
    // CharGramHash kernel: within-doc dedup map-side, 60-bit md5 keys
    // through every distinct and join — measured at sf0.1: shuffle
    // 35.1 → 24.8 MiB, task_ms 2.5x down vs string grams; the oracle
    // replays the identical md5 prefix so a 60-bit collision would
    // change BOTH engines the same way, and at the hash level a
    // collision can only over-flag — the conservative direction for a
    // decontamination screen. String-EXACT semantics are gated by
    // x51's candidate-verified path.) The synthetic corpus carries
    // natural shared substrings of every bracket (at sf0.01 all 100
    // eval docs share 16-grams, only 13 share 32-grams — the ladder
    // discriminates).
    Q("x48_exact_substr",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").select($"doc_id", $"text")
        val ev = docs.filter($"doc_id" % 5 === 0)
        val tr = docs.filter($"doc_id" % 5 =!= 0)
        graft.text.ExactSubstr
          .sharedSubstrCensusHashed(tr, ev, "text", "doc_id", Seq(8, 16, 32),
            verify = false)
          .orderBy($"gram_len")
      },
      Some("""WITH Ls AS (SELECT unnest([8, 16, 32]) AS L),
             |pos AS (SELECT CAST(i AS INT) AS i FROM range(1, 4097) t(i)),
             |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
             |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
             |evg AS (SELECT DISTINCT e.doc_id, Ls.L,
             |          ('0x'||substr(md5(substr(e.text, pos.i,
             |            CAST(Ls.L AS INT))),1,15))::BIGINT AS h
             |        FROM ev e CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(e.text) - Ls.L + 1),
             |trg AS (SELECT DISTINCT Ls.L,
             |          ('0x'||substr(md5(substr(t2.text, pos.i,
             |            CAST(Ls.L AS INT))),1,15))::BIGINT AS h
             |        FROM tr t2 CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(t2.text) - Ls.L + 1),
             |hit AS (SELECT DISTINCT evg.doc_id, evg.L FROM evg
             |        JOIN trg ON evg.L = trg.L AND evg.h = trg.h)
             |SELECT CAST(L AS INT) AS gram_len, count(*) AS n_docs_hit,
             |  CAST(sum(doc_id) AS BIGINT) AS id_chk
             |FROM hit GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X51: exact-substring census, STRING-VERIFIED hashed path —
    // the in-join collision verify at its design point: LONG rungs
    // (32/64 — Lee et al.'s deduplication threshold is 50 tokens),
    // where few grams match across corpora, so the candidate-hash set
    // is small and gram STRINGS move only for it (broadcast-filtered
    // map-side; measured at sf0.1: 27.2 MiB shuffled vs the string
    // form's 51.2 MiB at the same rungs — the cut GROWS with L since
    // hash rows stay 8 bytes). The oracle is the STRING-key SQL: it
    // gates that verify-on output is bit-identical to true exact-
    // substring semantics, collision or not. At short/all-hit rungs
    // the candidate set is corpus-sized and verify would re-shuffle
    // everything — x48's hash-level census is the right form there
    // (measured: verify 14.3 s vs hash-only 4.6 s at 10x) — the
    // regime split is the operator's documented contract.
    Q("x51_exact_substr_verified",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").select($"doc_id", $"text")
        val ev = docs.filter($"doc_id" % 5 === 0)
        val tr = docs.filter($"doc_id" % 5 =!= 0)
        graft.text.ExactSubstr
          .sharedSubstrCensusHashed(tr, ev, "text", "doc_id", Seq(32, 64))
          .orderBy($"gram_len")
      },
      Some("""WITH Ls AS (SELECT unnest([32, 64]) AS L),
             |pos AS (SELECT CAST(i AS INT) AS i FROM range(1, 4097) t(i)),
             |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
             |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
             |evg AS (SELECT DISTINCT e.doc_id, Ls.L,
             |          substr(e.text, pos.i, CAST(Ls.L AS INT)) AS g
             |        FROM ev e CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(e.text) - Ls.L + 1),
             |trg AS (SELECT DISTINCT Ls.L,
             |          substr(t2.text, pos.i, CAST(Ls.L AS INT)) AS g
             |        FROM tr t2 CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(t2.text) - Ls.L + 1),
             |hit AS (SELECT DISTINCT evg.doc_id, evg.L FROM evg
             |        JOIN trg ON evg.L = trg.L AND evg.g = trg.g)
             |SELECT CAST(L AS INT) AS gram_len, count(*) AS n_docs_hit,
             |  CAST(sum(doc_id) AS BIGINT) AS id_chk
             |FROM hit GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R40: TERRAIN-INDEX trio — TPI / TRI / roughness (the three
    // `gdaldem` analysis verbs alongside hillshade r32, closing the
    // gdaldem family) FUSED onto one halo exchange: three output bands
    // from ONE shuffle of the DEM (three separate stencil passes would
    // pay the data+halo shuffle three times for zero new bytes). Each
    // index is kept in its exact-integer form (tpi8 = 8·zC − Σ8,
    // trisq = Σ(zC−zN)², rough = max−min over the 3×3) — the
    // hornGradSq discipline: /8 and √ are pointwise epilogues, and the
    // integer forms make the census bit-exact in both engines. Census
    // = per (band, chunk) count/sum/position-weighted checksum over the
    // modramp DEM, so every pixel of all three bands is hash-gated.
    Q("r40_terrain_indices",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(251))
        Focal.terrainIndices3x3(tiles, 50, 50, 150, 150)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              (t.band, t.yChunk, t.xChunk, v.toLong, gr.toLong * 150 + gc)
            }
          }
          .toDF("band", "y_chunk", "x_chunk", "v", "pos")
          .groupBy($"band", $"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"v").as("sum_v"),
               sum($"v" * $"pos").as("pos_chk"))
          .orderBy($"band", $"y_chunk", $"x_chunk")
      },
      Some("""WITH px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |            WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |z AS (SELECT r, c, CAST((r*r + c*c) % 251 AS DOUBLE) AS v
             |      FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)),
             |n AS (SELECT p.r, p.c, z0.v AS zc,
             |        nw.v AS vnw, n2.v AS vn, ne.v AS vne, w.v AS vw,
             |        e.v AS ve, sw.v AS vsw, s.v AS vs, se.v AS vse
             |      FROM px p
             |      JOIN z z0 ON z0.r = p.r   AND z0.c = p.c
             |      JOIN z nw ON nw.r = p.r-1 AND nw.c = p.c-1
             |      JOIN z n2 ON n2.r = p.r-1 AND n2.c = p.c
             |      JOIN z ne ON ne.r = p.r-1 AND ne.c = p.c+1
             |      JOIN z w  ON w.r  = p.r   AND w.c  = p.c-1
             |      JOIN z e  ON e.r  = p.r   AND e.c  = p.c+1
             |      JOIN z sw ON sw.r = p.r+1 AND sw.c = p.c-1
             |      JOIN z s  ON s.r  = p.r+1 AND s.c  = p.c
             |      JOIN z se ON se.r = p.r+1 AND se.c = p.c+1),
             |i AS (SELECT r, c,
             |        8*zc - (vnw+vn+vne+vw+ve+vsw+vs+vse) AS tpi8,
             |        (zc-vnw)*(zc-vnw) + (zc-vn)*(zc-vn) + (zc-vne)*(zc-vne)
             |        + (zc-vw)*(zc-vw) + (zc-ve)*(zc-ve) + (zc-vsw)*(zc-vsw)
             |        + (zc-vs)*(zc-vs) + (zc-vse)*(zc-vse) AS trisq,
             |        greatest(zc,vnw,vn,vne,vw,ve,vsw,vs,vse)
             |        - least(zc,vnw,vn,vne,vw,ve,vsw,vs,vse) AS rough
             |      FROM n),
             |u AS (SELECT 'gray_tpi8' AS band, r, c, tpi8 AS v FROM i
             |      UNION ALL SELECT 'gray_trisq', r, c, trisq FROM i
             |      UNION ALL SELECT 'gray_rough', r, c, rough FROM i)
             |SELECT band, CAST(r//50 AS INT) AS y_chunk,
             |  CAST(c//50 AS INT) AS x_chunk, count(*) AS n_px,
             |  CAST(sum(v) AS BIGINT) AS sum_v,
             |  CAST(sum(v * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ----- R41: DEPRESSION FILLING (Planchon & Darboux 2001; SAGA
    // "Fill Sinks", ArcGIS "Fill") — the HEAD of the hydrology pipeline
    // (fill → D8 → accumulation → Strahler → basins): the filled water
    // surface is the unique fixpoint of W = max(z, min₈(W_n)) from W = z
    // on the border, i.e. every pit rises to its spill level. Spark runs
    // BLOCK Gauss–Seidel (per-chunk relaxation to local fixpoint between
    // depth-1 halo rounds — information moves a CHUNK per round, 3
    // rounds here vs 30 pointwise Jacobi iterations); the oracle unrolls
    // plain Jacobi to the same unique fixpoint (scheduling-independent,
    // so the two engines replay each other exactly on the integer DEM).
    // Census = per-chunk fill DEPTH (W − z): pooled-water cells, exact
    // integer volume, position checksum — every pixel hash-gated.
    Q("r41_fill_sinks",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Flow
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 600.0, 600.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 600.0, 600.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 20,
          readerFor = _ => ModRampReader(13))
        Flow.fillDepth(tiles, 20, 20, 60, 60, rounds = 16)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 20 + r
              val gc = t.xChunk * 20 + c
              (t.yChunk, t.xChunk, v.toLong, gr.toLong * 60 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "d", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"),
               sum(when($"d" > 0, 1L).otherwise(0L)).as("n_filled"),
               sum($"d").as("sum_depth"),
               sum($"d" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some {
        val prefix =
          """WITH z AS (SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c,
            |        CAST((r*r + c*c) % 13 AS DOUBLE) AS z
            |      FROM range(0,60) t(r) CROSS JOIN range(0,60) u(c)),
            |off AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
            |        (0,1),(1,-1),(1,0),(1,1)) o(dr, dc)),
            |w0 AS (SELECT r, c, CASE WHEN r = 0 OR r = 59 OR c = 0 OR c = 59
            |        THEN z ELSE 1e18 END AS w FROM z)""".stripMargin
        // unroll Jacobi past its fixpoint (30 iterations on this DEM —
        // measured; 40 is safely converged, and the fixpoint is unique
        // so overshoot is the identity). AS MATERIALIZED is load-bearing:
        // DuckDB inlines single-reference CTEs, and a 40-deep inlined
        // join tree sends its join-order planner exponential (measured
        // minutes at depth 8; 0.4 s materialized at depth 40).
        val iters = (1 to 40).map { i =>
          s""",
            |w$i AS MATERIALIZED (SELECT t.r, t.c,
            |    CASE WHEN t.r = 0 OR t.r = 59 OR t.c = 0 OR t.c = 59 THEN t.z
            |         ELSE greatest(t.z, min(p.w)) END AS w
            |  FROM z t JOIN off o ON true
            |  JOIN w${i - 1} p ON p.r = t.r + o.dr AND p.c = t.c + o.dc
            |  GROUP BY t.r, t.c, t.z)""".stripMargin
        }.mkString
        val suffix =
          """
            |SELECT CAST(z.r // 20 AS INT) AS y_chunk,
            |  CAST(z.c // 20 AS INT) AS x_chunk,
            |  count(*) AS n_px,
            |  CAST(sum(CASE WHEN f.w > z.z THEN 1 ELSE 0 END) AS BIGINT)
            |    AS n_filled,
            |  CAST(sum(f.w - z.z) AS BIGINT) AS sum_depth,
            |  CAST(sum((f.w - z.z) * (z.r*60 + z.c)) AS BIGINT) AS pos_chk
            |FROM z JOIN w40 f ON f.r = z.r AND f.c = z.c
            |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
        prefix + iters + suffix
      }),

    // ----- R42: COST DISTANCE (ArcGIS Cost Distance / GRASS r.cost) —
    // the weighted-geodesic companion on the same ops.Flow block-
    // relaxation machinery as r41: least accumulated friction from two
    // source cells over 4-connected paths, step cost f(u)+f(v) (the ×2
    // exact-integer form of the standard average-friction step — /2 is
    // a pointwise epilogue, the tpi8 discipline). Spark relaxes each
    // chunk to a local fixpoint between depth-1 halo rounds (friction
    // halo rides the exchange; 3 block rounds here vs 58 pointwise
    // Jacobi iterations); the oracle unrolls plain Jacobi to the same
    // unique fixpoint. Census = per-chunk reached-cell count, exact
    // cost mass, position checksum.
    Q("r42_cost_distance",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Flow
        import graft.scan.{AssetRow, ModRampReader, Tile, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 600.0, 600.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 600.0, 600.0, 1.0, 0.0))
        // friction = modramp(7) + 1 (strictly positive crossing cost)
        val friction = TileScan.scan(s, assets, spec, chunk = 20,
            readerFor = _ => ModRampReader(7))
          .map(t => t.copy(pixels = t.pixels.map(_ + 1.0)))
        // two sources: (7,9) and (43,31), as sparse mask tiles on the
        // same chunk grid/band (chunks without sources need no tile)
        def srcTile(yc: Int, xc: Int, r: Int, c: Int): Tile = {
          val px = new Array[Double](400)
          px(r * 20 + c) = 1.0
          Tile(0, 0, "gray", 0L, yc, xc, 0, 0, 20, 20, px)
        }
        val sources = s.createDataset(Seq(
          srcTile(0, 0, 7, 9), srcTile(2, 1, 3, 11)))
        Flow.costDistance(friction, sources, 20, 20, 60, 60, rounds = 24)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 20 + r
              val gc = t.xChunk * 20 + c
              (t.yChunk, t.xChunk, v.toLong, gr.toLong * 60 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "w2", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_reached"),
               sum($"w2").as("sum_w2"),
               sum($"w2" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some {
        val prefix =
          """WITH z AS (SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c,
            |        CAST((r*r + c*c) % 7 + 1 AS DOUBLE) AS f
            |      FROM range(0,60) t(r) CROSS JOIN range(0,60) u(c)),
            |off AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1)) o(dr, dc)),
            |w0 AS (SELECT r, c, CASE WHEN (r = 7 AND c = 9)
            |        OR (r = 43 AND c = 31) THEN 0 ELSE 1e18 END AS w FROM z)""".stripMargin
        // unroll Jacobi past its fixpoint (58 iterations on this
        // fixture — measured; 70 is safely converged, the fixpoint is
        // unique so overshoot is the identity). AS MATERIALIZED: see the
        // r41 oracle — inlined CTE chains blow up DuckDB's join planner.
        val iters = (1 to 70).map { i =>
          s""",
            |w$i AS MATERIALIZED (SELECT t.r, t.c,
            |    least(min(p0.w), min(p.w + zf.f + t.f)) AS w
            |  FROM z t
            |  JOIN w${i - 1} p0 ON p0.r = t.r AND p0.c = t.c
            |  JOIN off o ON true
            |  JOIN w${i - 1} p ON p.r = t.r + o.dr AND p.c = t.c + o.dc
            |  JOIN z zf ON zf.r = p.r AND zf.c = p.c
            |  GROUP BY t.r, t.c)""".stripMargin
        }.mkString
        val suffix =
          """
            |SELECT CAST(f.r // 20 AS INT) AS y_chunk,
            |  CAST(f.c // 20 AS INT) AS x_chunk,
            |  count(*) AS n_reached,
            |  CAST(sum(f.w) AS BIGINT) AS sum_w2,
            |  CAST(sum(f.w * (f.r*60 + f.c)) AS BIGINT) AS pos_chk
            |FROM w70 f WHERE f.w < 1e17
            |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
        prefix + iters + suffix
      }),

    // ----- R43: BINARY MORPHOLOGY — closing + opening with a 5×5
    // square element (radius 2), the canonical QA-mask cleanup verbs
    // (fill cloud-mask pinholes / strip speckle before compositing),
    // FUSED onto one depth-4 halo exchange (ops.Focal.morphology —
    // erode∘dilate and dilate∘erode both need 2r of context; the r40
    // fusion discipline). Border convention is morphology's standard
    // 0-padding (nodata/out-of-grid = background), NOT the measurement
    // kernels' strict-NaN stencil. Passes are separable (row then column
    // max/min — O(r) per pixel, not O(r²)). Mask = modramp(17) ≥ 9;
    // census = per (band, chunk) set-cell count + position checksum —
    // every pixel of both bands hash-gated, exact 0/1 integers.
    Q("r43_morphology",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val mask = TileScan.scan(s, assets, spec, chunk = 50,
            readerFor = _ => ModRampReader(17))
          .map(t => t.copy(pixels = t.pixels.map(v => if (v >= 9.0) 1.0 else 0.0)))
        Focal.morphology(mask, 50, 50, 150, 150, radius = 2)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c)
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              (t.band, t.yChunk, t.xChunk, v.toLong, gr.toLong * 150 + gc)
            }
          }
          .toDF("band", "y_chunk", "x_chunk", "v", "pos")
          .groupBy($"band", $"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"v").as("n_one"),
               sum($"v" * $"pos").as("pos_chk"))
          .orderBy($"band", $"y_chunk", $"x_chunk")
      },
      Some("""WITH m AS (SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c,
             |        CASE WHEN (r*r + c*c) % 17 >= 9 THEN 1 ELSE 0 END AS v
             |      FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)),
             |off AS (SELECT CAST(a.dr AS INT) - 2 AS dr, CAST(b.dc AS INT) - 2 AS dc
             |        FROM range(0,5) a(dr) CROSS JOIN range(0,5) b(dc)),
             |-- extended domain (-2..151): dilate/erode of the 0-padded mask
             |pe AS (SELECT CAST(x.i AS INT) - 2 AS r, CAST(y.i AS INT) - 2 AS c
             |       FROM range(0,154) x(i) CROSS JOIN range(0,154) y(i)),
             |d1 AS MATERIALIZED (
             |  SELECT p.r, p.c, max(coalesce(m.v, 0)) AS v
             |  FROM pe p JOIN off o ON true
             |  LEFT JOIN m ON m.r = p.r + o.dr AND m.c = p.c + o.dc
             |  GROUP BY p.r, p.c),
             |e1 AS MATERIALIZED (
             |  SELECT p.r, p.c, min(coalesce(m.v, 0)) AS v
             |  FROM pe p JOIN off o ON true
             |  LEFT JOIN m ON m.r = p.r + o.dr AND m.c = p.c + o.dc
             |  GROUP BY p.r, p.c),
             |cl AS (SELECT t.r, t.c, min(d1.v) AS v
             |       FROM m t JOIN off o ON true
             |       JOIN d1 ON d1.r = t.r + o.dr AND d1.c = t.c + o.dc
             |       GROUP BY t.r, t.c),
             |op AS (SELECT t.r, t.c, max(e1.v) AS v
             |       FROM m t JOIN off o ON true
             |       JOIN e1 ON e1.r = t.r + o.dr AND e1.c = t.c + o.dc
             |       GROUP BY t.r, t.c),
             |u AS (SELECT 'gray_close' AS band, r, c, v FROM cl
             |      UNION ALL SELECT 'gray_open', r, c, v FROM op)
             |SELECT band, CAST(r // 50 AS INT) AS y_chunk,
             |  CAST(c // 50 AS INT) AS x_chunk, count(*) AS n_px,
             |  CAST(sum(v) AS BIGINT) AS n_one,
             |  CAST(sum(v * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ----- R44: HORIZON SCAN / sky-view-factor primitive (Zakšek et
    // al. 2011; Yokoyama openness) — per cell, per compass direction,
    // the steepest rise within radius 12, summed over the 8 directions
    // (ops.Focal.horizonQ). The deepest halo consumer yet: ONE depth-12
    // exchange (shuffle = data + 48·perimeter strips), then a pure
    // per-chunk 96-tap loop. Exactness is the r22 rational convention:
    // q = max_k ⌊1024·Δz/k⌋ — denominators ≤ 12 keep the floor an
    // engine-portable exact compare (a rational p/k is never within an
    // ulp of an integer unless it IS one). Strict stencil prunes the
    // 12-cell border ring. Census = per-chunk count / Σq / position
    // checksum — every valid pixel hash-gated.
    Q("r44_horizon",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(23))
        Focal.horizonQ(tiles, 50, 50, 150, 150, d = 12)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              (t.band, t.yChunk, t.xChunk, v.toLong, gr.toLong * 150 + gc)
            }
          }
          .toDF("band", "y_chunk", "x_chunk", "q", "pos")
          .groupBy($"band", $"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"q").as("sum_q"),
               sum($"q" * $"pos").as("pos_chk"))
          .orderBy($"band", $"y_chunk", $"x_chunk")
      },
      Some("""WITH z AS (SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c,
             |        CAST((r*r + c*c) % 23 AS DOUBLE) AS v
             |      FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)),
             |dirs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
             |         (0,1),(1,-1),(1,0),(1,1)) d(dr, dc)),
             |ks AS (SELECT CAST(k AS INT) + 1 AS k FROM range(0,12) t(k)),
             |ctr AS (SELECT r, c, v FROM z
             |        WHERE r BETWEEN 12 AND 137 AND c BETWEEN 12 AND 137),
             |q AS MATERIALIZED (
             |  SELECT t.r, t.c, d.dr, d.dc,
             |    max(floor(1024.0 * (zn.v - t.v) / k.k)) AS q
             |  FROM ctr t CROSS JOIN dirs d CROSS JOIN ks k
             |  JOIN z zn ON zn.r = t.r + k.k * d.dr AND zn.c = t.c + k.k * d.dc
             |  GROUP BY 1, 2, 3, 4),
             |h AS (SELECT r, c, sum(q) AS v FROM q GROUP BY 1, 2)
             |SELECT 'gray_horq' AS band, CAST(r // 50 AS INT) AS y_chunk,
             |  CAST(c // 50 AS INT) AS x_chunk, count(*) AS n_px,
             |  CAST(sum(v) AS BIGINT) AS sum_q,
             |  CAST(sum(v * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM h GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin))
  )

  private lazy val roundFifteenB: Seq[Q] = Seq(
    // ----- D15: EDIT-DISTANCE similarity join (PassJoin — Li, Deng,
    // Feng & Wang, VLDB 2011) — the approximate-STRING capability the
    // token-set dedup family can't express: all title pairs within
    // Levenshtein <= 2, found via the partition-based signature scheme
    // (k+1 segments, shifted-window probes, one equi-join) and verified
    // with the codegen `levenshtein` built-in — NEVER all-pairs. Titles
    // are the doc's 24-char prefix sampled at a doc_id-dependent shift,
    // so near-dup docs with different shifts land at distance 2 through
    // genuine INDEL alignment (delete front char + insert end char),
    // exercising the pigeonhole displacement window, not just
    // substitutions. The oracle brute-forces the pair space (fine at
    // oracle scale; the ENGINE side must stay signature-driven at any
    // scale). Census: per distance, pair count + id checksum — every
    // surviving pair is hash-gated.
    Q("d15_fuzzy_join",
      (s, dir) => {
        import s.implicits._
        val titles = t(s, dir, "documents")
          .filter(length($"text") >= 26)
          .select($"doc_id",
            expr("substring(text, cast(1 + doc_id % 3 as int), 24)").as("title"))
        graft.text.EditJoin.passJoin(titles, "doc_id", "title", k = 2)
          .groupBy($"dist")
          .agg(count(lit(1)).as("n_pairs"),
            sum($"id_a" + $"id_b").as("id_chk"))
          .orderBy($"dist")
      },
      Some("""WITH t AS (SELECT doc_id,
             |    substr(text, CAST(1 + doc_id % 3 AS INT), 24) AS title
             |  FROM documents WHERE length(text) >= 26),
             |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
             |    levenshtein(a.title, b.title) AS dist
             |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
             |SELECT dist, count(*) AS n_pairs,
             |  CAST(sum(ida + idb) AS BIGINT) AS id_chk
             |FROM p WHERE dist <= 2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- W10: AUTOCORRELATION ladder (Series.acf) — per event_type,
    // the lag-1/2/3 pair sums over the (ts, event_id)-ordered cents
    // series in the exact-integer contract: n, Σxy, Σx, Σy per lag
    // (r(L) is a pointwise epilogue). ONE window pass computes every
    // lag's lead, so the data shuffles once on the key regardless of
    // ladder height; the oracle replays the same windows.
    Q("w10_acf",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .select($"event_type", $"ts", $"event_id", quant($"value", 100).as("cents"))
        graft.ops.Series.acf(ev, "event_type", Seq("ts", "event_id"), "cents",
            Seq(1, 2, 3))
          .orderBy($"event_type", $"lag")
      },
      Some("""WITH e AS (SELECT event_type, ts, event_id,
             |    CAST(floor(value*100 + 0.5) AS BIGINT) AS x FROM events),
             |l AS (SELECT event_type, x,
             |    lead(x, 1) OVER w AS y1, lead(x, 2) OVER w AS y2,
             |    lead(x, 3) OVER w AS y3
             |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
             |u AS (SELECT event_type, 1 AS lag, x, y1 AS y FROM l WHERE y1 IS NOT NULL
             |  UNION ALL SELECT event_type, 2, x, y2 FROM l WHERE y2 IS NOT NULL
             |  UNION ALL SELECT event_type, 3, x, y3 FROM l WHERE y3 IS NOT NULL)
             |SELECT event_type, lag, count(*) AS n_pairs,
             |  CAST(sum(x*y) AS BIGINT) AS sum_xy,
             |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y
             |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- W11: CUSUM mean-shift changepoint (Series.cusumChangepoint;
    // Page 1954's statistic in offline localization form) — per
    // event_type, C_i = Σ_{j<=i}(x_j − target) with the INTEGER target
    // Σx div n peaks in magnitude at the most likely single shift
    // point; computed as run_i − i·target so the whole statistic stays
    // exact-integer (cents are non-negative, so Spark `div` and DuckDB
    // `//` agree — both truncate; the operator documents the
    // non-negative orientation). Earliest peak wins ties on both sides.
    Q("w11_cusum",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .select($"event_type", $"ts", $"event_id", quant($"value", 100).as("cents"))
        graft.ops.Series
          .cusumChangepoint(ev, "event_type", Seq("ts", "event_id"), "cents")
          .select($"event_type", $"n", $"target", $"max_abs_c", $"cp_event_id")
          .orderBy($"event_type")
      },
      Some("""WITH e AS (SELECT event_type, ts, event_id,
             |    CAST(floor(value*100 + 0.5) AS BIGINT) AS x FROM events),
             |c AS (SELECT event_type, ts, event_id,
             |    count(*) OVER (PARTITION BY event_type) AS n,
             |    sum(x) OVER (PARTITION BY event_type)
             |      // count(*) OVER (PARTITION BY event_type) AS target,
             |    sum(x) OVER (PARTITION BY event_type ORDER BY ts, event_id
             |                 ROWS UNBOUNDED PRECEDING) AS run,
             |    row_number() OVER (PARTITION BY event_type
             |                       ORDER BY ts, event_id) AS seq
             |  FROM e),
             |d AS (SELECT event_type, n, target, event_id,
             |    abs(run - seq * target) AS abs_c,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY abs(run - seq * target) DESC, seq) AS rk
             |  FROM c)
             |SELECT event_type, CAST(n AS BIGINT) AS n,
             |  CAST(target AS BIGINT) AS target,
             |  CAST(abs_c AS BIGINT) AS max_abs_c, event_id AS cp_event_id
             |FROM d WHERE rk = 1 ORDER BY 1""".stripMargin)),

    // ----- A12: grouped OLS trend fit (Series.groupedOls) — per
    // event_type, y = cents regressed on x = epoch-hours: the five
    // exact BIGINT sums plus slope/intercept as deterministic IEEE
    // doubles derived from them with cast-to-double AFTER the integer
    // sums (identical ints -> identical doubles in both engines; the
    // header's "double expressions are fine" rule). One map-side-
    // combined aggregation — the census IS the model.
    Q("a12_grouped_ols",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .select($"event_type",
            expr("unix_timestamp(ts) div 3600").as("xh"),
            quant($"value", 100).as("cents"))
        graft.ops.Series.groupedOls(ev, "event_type", "xh", "cents")
          .orderBy($"event_type")
      },
      // floor(epoch(ts)), not epoch(ts)::BIGINT — the cast ROUNDS
      // fractional seconds while Spark's unix_timestamp truncates, and
      // one rounded-up second near an hour boundary shifts that row's
      // bucket (bit us here: sum_x off by exactly 1).
      Some("""WITH e AS (SELECT event_type,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS x,
             |    CAST(floor(value*100 + 0.5) AS BIGINT) AS y FROM events),
             |s AS (SELECT event_type, count(*) AS n, sum(x) AS sum_x,
             |    sum(y) AS sum_y, sum(x*y) AS sum_xy, sum(x*x) AS sum_xx
             |  FROM e GROUP BY 1),
             |f AS (SELECT *,
             |    (CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE)
             |     - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
             |    / (CAST(n AS DOUBLE) * CAST(sum_xx AS DOUBLE)
             |       - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE)) AS slope
             |  FROM s)
             |SELECT event_type, CAST(n AS BIGINT) AS n,
             |  CAST(sum_x AS BIGINT) AS sum_x, CAST(sum_y AS BIGINT) AS sum_y,
             |  CAST(sum_xy AS BIGINT) AS sum_xy, CAST(sum_xx AS BIGINT) AS sum_xx,
             |  slope,
             |  (CAST(sum_y AS DOUBLE) - slope * CAST(sum_x AS DOUBLE))
             |    / CAST(n AS DOUBLE) AS intercept
             |FROM f ORDER BY 1""".stripMargin))
,

    // ----- J15: POINT-IN-POLYGON containment join
    // (SpatialJoin.pipJoin) — the polygon member of the blocking
    // family: 25 non-convex 8-point STARS (one per nation, star tips
    // make bbox-hit-but-outside real) against the lineitem point cloud,
    // resolved by the exact-integer crossing-number rule. The engine
    // side goes grid-cell blocking -> bbox prefilter -> one edge join
    // with a map-side-combined crossing count — never all-pairs; the
    // oracle replays the SAME integer comparisons over the
    // bbox-filtered pair space (affordable at oracle scale). Census:
    // per polygon, contained-point count + id checksum.
    Q("j15_point_in_polygon",
      (s, dir) => {
        import s.implicits._
        val offs = Seq((0, 15, 0), (1, 4, 4), (2, 0, 15), (3, -4, 4),
          (4, -15, 0), (5, -4, -4), (6, 0, -15), (7, 4, -4))
          .toDF("seq", "dx", "dy")
        val verts = t(s, dir, "nation")
          .select($"n_nationkey".cast("long").as("nk"))
          .crossJoin(offs)
          .select($"nk".as("poly_id"), $"seq",
            (lit(40) * ($"nk" % 5) + 20 + $"dx").as("x"),
            (lit(40) * expr("nk div 5") + 20 + $"dy").as("y"))
        // distinct grid positions with pt_id = x*200 + y: the synthetic
        // lineitem has NO unique row key (even (orderkey, linenumber)
        // repeats), so point identity is the coordinate itself.
        val pts = t(s, dir, "lineitem")
          .select(($"l_partkey" % 200).as("x"),
            (($"l_orderkey" * 3 + $"l_suppkey") % 200).as("y"))
          .distinct()
          .withColumn("pt_id", $"x" * 200 + $"y")
        graft.ops.SpatialJoin.pipJoin(pts, "pt_id", verts, "poly_id", cellSize = 20)
          .groupBy($"poly_id")
          .agg(count(lit(1)).as("n_pts"), sum($"pt_id").as("id_chk"))
          .orderBy($"poly_id")
      },
      Some("""WITH o AS (SELECT * FROM (VALUES (0,15,0),(1,4,4),(2,0,15),
             |    (3,-4,4),(4,-15,0),(5,-4,-4),(6,0,-15),(7,4,-4))
             |    AS t(seq, dx, dy)),
             |v AS (SELECT CAST(n_nationkey AS BIGINT) AS pid, o.seq,
             |    40*(n_nationkey % 5) + 20 + o.dx AS x,
             |    40*(n_nationkey // 5) + 20 + o.dy AS y
             |  FROM nation CROSS JOIN o),
             |e AS (SELECT a.pid, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
             |  FROM v a JOIN v b ON a.pid = b.pid AND b.seq = (a.seq + 1) % 8),
             |p AS (SELECT DISTINCT l_partkey % 200 AS px,
             |    (l_orderkey*3 + l_suppkey) % 200 AS py
             |  FROM lineitem),
             |p2 AS (SELECT px*200 + py AS pt_id, px, py FROM p),
             |c AS (SELECT p.pt_id, e.pid,
             |    sum(CASE WHEN ((e.y1 > p.py) <> (e.y2 > p.py)) AND
             |      (CASE WHEN e.y2 > e.y1
             |        THEN (p.px - e.x1)*(e.y2 - e.y1) < (p.py - e.y1)*(e.x2 - e.x1)
             |        ELSE (p.px - e.x1)*(e.y2 - e.y1) > (p.py - e.y1)*(e.x2 - e.x1)
             |       END) THEN 1 ELSE 0 END) AS nc
             |  FROM p2 p JOIN e ON p.px BETWEEN 40*(e.pid % 5) + 5
             |                           AND 40*(e.pid % 5) + 35
             |              AND p.py BETWEEN 40*(e.pid // 5) + 5
             |                           AND 40*(e.pid // 5) + 35
             |  GROUP BY 1, 2)
             |SELECT pid AS poly_id, count(*) AS n_pts,
             |  CAST(sum(pt_id) AS BIGINT) AS id_chk
             |FROM c WHERE nc % 2 = 1 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R45: GLOBAL histogram equalization (Equalize.histEq) — the
    // classic contrast stretch as the TWO-PASS BROADCAST-REMAP shape:
    // pass 1 a map-side-combined value census (shuffle = 251 distinct
    // values, not 22 500 pixels), then the model-sized CDF broadcasts
    // and pass 2 remaps every tile locally — ZERO pixel shuffle. The
    // exact-integer contract out(v) = (cdf(v)−cdf_min)(L−1) div
    // (N−cdf_min) replays in DuckDB via the same window cumsum. Census:
    // per chunk, count/sum/position checksum over equalized values —
    // every output pixel hash-gated.
    Q("r45_hist_equalize",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Equalize
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(251))
        Equalize.histEq(tiles, levels = 256)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              (t.yChunk, t.xChunk, v.toLong, gr.toLong * 150 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "v", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"v").as("sum_eq"),
            sum($"v" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH z AS (SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c,
             |    (r*r + c*c) % 251 AS v
             |  FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)),
             |h AS (SELECT v, count(*) AS cnt FROM z GROUP BY 1),
             |cdf AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cdf FROM h),
             |st AS (SELECT min(cdf) AS cdfmin,
             |    (SELECT count(*) FROM z) AS n FROM cdf),
             |m AS (SELECT cdf.v,
             |    (cdf.cdf - st.cdfmin) * 255 // (st.n - st.cdfmin) AS eq
             |  FROM cdf CROSS JOIN st),
             |e AS (SELECT z.r, z.c, m.eq FROM z JOIN m ON z.v = m.v)
             |SELECT CAST(r // 50 AS INT) AS y_chunk, CAST(c // 50 AS INT) AS x_chunk,
             |  count(*) AS n_px, CAST(sum(eq) AS BIGINT) AS sum_eq,
             |  CAST(sum(eq * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- W12: SEASONAL DECOMPOSITION (Series.seasonalDetrend — the
    // additive STL-lite: centered 25-hour moving-average detrend, then
    // seasonal indices as an hour-of-day census over the ×25-scaled
    // exact-integer detrended values). Per event_type: hourly cents →
    // detrend (full windows only — edges have no defined trend) →
    // per (type, hour-of-day): n, Σdetr, Σ|detr| (the seasonal index
    // and the remainder magnitude in one read). One key shuffle for
    // the hourly agg + window; the census reuses its partitioning.
    Q("w12_seasonal",
      (s, dir) => {
        import s.implicits._
        val hourly = t(s, dir, "events")
          .groupBy($"event_type",
            expr("unix_timestamp(ts) div 3600").as("hr"))
          .agg(sum(quant($"value", 100)).as("hx"))
        graft.ops.Series
          .seasonalDetrend(hourly, "event_type", Seq("hr"), "hx", halfWindow = 12)
          .filter($"detr".isNotNull)
          .groupBy($"event_type", ($"hr" % 24).as("hod"))
          .agg(count(lit(1)).as("n_obs"), sum($"detr").as("sum_detr25"),
            sum(abs($"detr")).as("abs_detr25"))
          .orderBy($"event_type", $"hod")
      },
      Some("""WITH e AS (SELECT event_type,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
             |    CAST(floor(value*100 + 0.5) AS BIGINT) AS x FROM events),
             |h AS (SELECT event_type, hr, sum(x) AS hx FROM e GROUP BY 1, 2),
             |t AS (SELECT event_type, hr, hx,
             |    count(*) OVER w AS win_n, sum(hx) OVER w AS ts
             |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr
             |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
             |d AS (SELECT event_type, hr % 24 AS hod, 25*hx - ts AS detr
             |  FROM t WHERE win_n = 25)
             |SELECT event_type, CAST(hod AS BIGINT) AS hod,
             |  count(*) AS n_obs, CAST(sum(detr) AS BIGINT) AS sum_detr25,
             |  CAST(sum(abs(detr)) AS BIGINT) AS abs_detr25
             |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- X50: GINI concentration census — the governance read over
    // the corpus source mix (is one source hogging the byte budget?):
    // per source, the Gini coefficient over document lengths in the
    // sorted-formula exact-integer form G_num = Σᵢ (2i − n − 1)·x₍ᵢ₎
    // (ascending ranks; tied values contribute identically under any
    // tiebreak, so the rank window is deterministic by construction),
    // G = G_num / (n·Σx) as the derived IEEE double. One key shuffle
    // for the rank window; the census reuses its partitioning.
    Q("x50_gini_concentration",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"source", $"doc_id", $"n_chars")
        val w = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
        val wAll = Window.partitionBy($"source")
        docs
          .withColumn("i", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wAll))
          .select($"source",
            (($"i" * 2 - $"n" - 1) * $"n_chars").as("term"),
            $"n_chars")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
            sum($"term").as("gini_num"))
          .withColumn("gini", col("gini_num").cast("double") /
            (col("n_docs").cast("double") * col("sum_chars").cast("double")))
          .orderBy($"source")
      },
      Some("""WITH r AS (SELECT source, n_chars,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY n_chars, doc_id) AS i,
             |    count(*) OVER (PARTITION BY source) AS n
             |  FROM documents),
             |g AS (SELECT source, count(*) AS n_docs,
             |    sum(n_chars) AS sum_chars,
             |    sum((i*2 - n - 1) * n_chars) AS gini_num
             |  FROM r GROUP BY 1)
             |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(sum_chars AS BIGINT) AS sum_chars,
             |  CAST(gini_num AS BIGINT) AS gini_num,
             |  CAST(gini_num AS DOUBLE)
             |    / (CAST(n_docs AS DOUBLE) * CAST(sum_chars AS DOUBLE)) AS gini
             |FROM g ORDER BY 1""".stripMargin)),

    // ----- X49: STRONGLY connected components (graph.Scc — FW-BW
    // min-label with partition refinement; Fleischer/Hendrickson/Pınar
    // 2000 family) — the DIRECTED-graph read the link-analysis family
    // lacked: link farms and redirect rings are SCCs, the web's bow-tie
    // is defined by the giant one. Graph: part keys mod 127 present in
    // lineitem, six quadratic out-edges with deterministic thinning — a
    // bow-tie by construction (one giant SCC, one mid ring, ~100
    // tendril singletons; diameter ~32, inside the inner budget). The
    // oracle replays MUTUAL REACHABILITY from the definition via a
    // recursive CTE (UNION dedup walks the cyclic graph) — proving the
    // label-propagation result equals the math, not the algorithm.
    // Census: per component size, component count + min-label checksum.
    Q("x49_scc",
      (s, dir) => {
        import s.implicits._
        val nodes = t(s, dir, "lineitem")
          .select(($"l_partkey" % 127).as("v")).distinct()
        // six quadratic out-edges with per-generator thinning: a
        // random-looking out-degree-≤6 digraph — bow-tie by
        // construction (one giant SCC + tendril singletons), and the
        // HIGH out-degree is what buys the small diameter: the linear
        // min-propagation converges in ~24 total rounds (simulated:
        // outer 2), each round one checkpointed join — iteration floor,
        // not data, prices this query
        val e = Seq((1L, 2L), (3L, 3L), (7L, 5L), (13L, 7L), (19L, 11L),
            (29L, 13L))
          .map { case (add, thin) =>
            nodes.filter($"v" % thin =!= 0)
              .select($"v".as("src"), (($"v" * $"v" + add) % 127).as("dst"))
          }.reduce(_ unionByName _)
        withStreamPartitions(s, 8) {
          graft.graph.Scc.components(e)
        }
          .groupBy($"scc").agg(count(lit(1)).as("size"))
          .groupBy($"size")
          .agg(count(lit(1)).as("n_comp"), sum($"scc").as("scc_chk"))
          .orderBy($"size")
      },
      Some("""WITH RECURSIVE
             |nodes AS (SELECT DISTINCT l_partkey % 127 AS v FROM lineitem),
             |e AS (SELECT v AS src, (v*v + 1) % 127 AS dst FROM nodes
             |        WHERE v % 2 <> 0
             |      UNION
             |      SELECT v, (v*v + 3) % 127 FROM nodes WHERE v % 3 <> 0
             |      UNION
             |      SELECT v, (v*v + 7) % 127 FROM nodes WHERE v % 5 <> 0
             |      UNION
             |      SELECT v, (v*v + 13) % 127 FROM nodes WHERE v % 7 <> 0
             |      UNION
             |      SELECT v, (v*v + 19) % 127 FROM nodes WHERE v % 11 <> 0
             |      UNION
             |      SELECT v, (v*v + 29) % 127 FROM nodes WHERE v % 13 <> 0),
             |e2 AS (SELECT src, dst FROM e WHERE src <> dst),
             |reach(a, b) AS (
             |  SELECT src, dst FROM e2
             |  UNION
             |  SELECT r.a, e2.dst FROM reach r JOIN e2 ON r.b = e2.src),
             |alln AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
             |mut AS (SELECT r1.a AS v, r1.b AS u
             |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
             |lab AS (SELECT a.v AS node,
             |    least(a.v, coalesce(min(m.u), a.v)) AS scc
             |  FROM alln a LEFT JOIN mut m ON m.v = a.v GROUP BY a.v),
             |sz AS (SELECT scc, count(*) AS size FROM lab GROUP BY 1)
             |SELECT size, count(*) AS n_comp, CAST(sum(scc) AS BIGINT) AS scc_chk
             |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- S22: STREAMING CUSUM (Page 1954's SEQUENTIAL test — the
    // true online form, vs w11's offline localization): S_d =
    // max(0, S_{d-1} + c_d − k) per event_type over the day grid, k
    // calibrated as the integer mean of the first third (the
    // calibration-then-monitor protocol), alarm when S exceeds k. The
    // clamped recurrence is genuinely stateful — flatMapGroupsWithState
    // carries (lastDay, S) across micro-batches, gap days decay S by k
    // (the s18 grid-walk discipline) — while the ORACLE replays the
    // closed form S_i = P_i − min(0, min_{j≤i} P_j) (prefix sums +
    // running min, window-only): the recurrence and the closed form
    // agreeing IS the correctness statement. Exact integers throughout.
    Q("s22_stream_cusum",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
        val base = t(s, dir, "events")
        val slim = base.select($"event_type",
          expr("unix_timestamp(ts) div 86400").as("day"),
          quant($"value", 100).as("cq"))
        val tmpRoot = java.nio.file.Files.createTempDirectory("graft_s22_")
        val inDir = tmpRoot.resolve("in"); java.nio.file.Files.createDirectories(inDir)
        def writeWave(df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
          val stage = tmpRoot.resolve(s"stage$k").toString
          df.coalesce(1).write.parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = inDir.resolve(s"wave$k.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          dst.toFile.setLastModified(1700000000000L + k * 60000L)
        }
        val b = slim.agg(min($"day").as("lo"), max($"day").as("hi")).head()
        val (dlo, dhi) = (b.getLong(0), b.getLong(1))
        val (d1, d2) = (dlo + (dhi - dlo) / 3, dlo + 2 * ((dhi - dlo) / 3))
        writeWave(slim.filter($"day" < d1), 1)
        writeWave(slim.filter($"day" >= d1 && $"day" < d2), 2)
        writeWave(slim.filter($"day" >= d2), 3)
        // calibration: integer target per type from the first third
        // (observed days); census-sized driver map, closure-captured
        val kByType: Map[String, Long] = slim.filter($"day" < d1)
          .groupBy($"event_type", $"day").agg(sum($"cq").as("c"))
          .groupBy($"event_type")
          .agg(expr("sum(c) div count(1)").as("k"))
          .as[(String, Long)].collect().toMap
        val queryName = "graft_cusum_" + java.util.UUID.randomUUID.toString.replace("-", "")
        withNoEmptyBatches(s) { withStreamPartitions(s, 4) {
          val q = s.readStream.schema(slim.schema)
            .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
            .as[(String, Long, Long)]
            .groupByKey(_._1)
            .flatMapGroupsWithState[(Long, Long),
                                    (String, Long, Long, Long, Long)](
              OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, rows, state) =>
              val kRef = kByType.getOrElse(key, 0L)
              val byDay = rows.toSeq.groupBy(_._2)
                .map { case (d, rs) => d -> rs.map(_._3).sum }
              if (byDay.isEmpty) Iterator.empty
              else {
                val maxDay = byDay.keys.max
                var (lastDay, sv) =
                  state.getOption.getOrElse((byDay.keys.min - 1, 0L))
                val out = Seq.newBuilder[(String, Long, Long, Long, Long)]
                var d = lastDay + 1
                while (d <= maxDay) {
                  val c = byDay.getOrElse(d, 0L)
                  sv = math.max(0L, sv + c - kRef)
                  out += ((key, d, c, sv, if (sv > kRef) 1L else 0L))
                  d += 1
                }
                state.update((maxDay, sv))
                out.result().iterator
              }
            }
            .toDF("event_type", "day", "c", "s", "alarm")
            .writeStream.outputMode("append")
            .format("memory").queryName(queryName).start()
          q.processAllAvailable(); q.stop()
        } }
        s.table(queryName)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_days"), sum($"alarm").as("n_alarms"),
            coalesce(min(when($"alarm" === 1L, $"day")), lit(-1L))
              .as("first_alarm"),
            max($"s").as("max_s"))
          .orderBy($"event_type")
      },
      Some("""WITH obs AS (SELECT event_type,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             |    sum(CAST(floor(value*100+0.5) AS BIGINT)) AS c
             |  FROM events GROUP BY 1, 2),
             |bnd AS (SELECT min(day) AS dlo, max(day) AS dhi FROM obs),
             |cut AS (SELECT dlo + (dhi - dlo) // 3 AS d1 FROM bnd),
             |k AS (SELECT event_type, sum(c) // count(*) AS kref
             |  FROM obs CROSS JOIN cut WHERE day < d1 GROUP BY 1),
             |b AS (SELECT event_type, min(day) AS lo, max(day) AS hi
             |  FROM obs GROUP BY 1),
             |grid AS (SELECT b.event_type,
             |    CAST(unnest(range(b.lo, b.hi + 1)) AS BIGINT) AS day FROM b),
             |f AS (SELECT g.event_type, g.day, coalesce(o.c, 0) AS c
             |  FROM grid g LEFT JOIN obs o
             |    ON g.event_type = o.event_type AND g.day = o.day),
             |p AS (SELECT f.event_type, f.day, f.c,
             |    coalesce(k.kref, 0) AS kref,
             |    sum(f.c - coalesce(k.kref, 0)) OVER w AS pp
             |  FROM f LEFT JOIN k ON f.event_type = k.event_type
             |  WINDOW w AS (PARTITION BY f.event_type ORDER BY f.day
             |               ROWS UNBOUNDED PRECEDING)),
             |sv AS (SELECT event_type, day, c, kref,
             |    pp - least(min(pp) OVER (PARTITION BY event_type ORDER BY day
             |                             ROWS UNBOUNDED PRECEDING), 0) AS s
             |  FROM p),
             |a AS (SELECT event_type, day, s,
             |    CASE WHEN s > kref THEN 1 ELSE 0 END AS alarm FROM sv)
             |SELECT event_type, count(*) AS n_days,
             |  CAST(sum(alarm) AS BIGINT) AS n_alarms,
             |  CAST(coalesce(min(CASE WHEN alarm = 1 THEN day END), -1) AS BIGINT)
             |    AS first_alarm,
             |  CAST(max(s) AS BIGINT) AS max_s
             |FROM a GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R46: FOCAL MAJORITY (mode) filter — the CATEGORICAL focal
    // verb (ArcGIS Focal Statistics MAJORITY; GRASS r.neighbors mode):
    // land-cover speckle cleanup where averaging kernels would invent
    // classes. 7-class fixture from the modramp; the smallest-value
    // tiebreak is load-bearing (categorical ties are common) and the
    // oracle replays it via (count DESC, class ASC) ranking. Same
    // one-exchange halo shape as r24/r40; census per chunk hash-gates
    // every smoothed pixel.
    Q("r46_focal_majority",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val classes = TileScan.scan(s, assets, spec, chunk = 50,
            readerFor = _ => ModRampReader(251))
          .map(t => t.copy(pixels = t.pixels.map(v =>
            if (v.isNaN) Double.NaN else v % 7)))
        Focal.focalMajority3x3(classes, 50, 50, 150, 150)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              (t.yChunk, t.xChunk, v.toLong, gr.toLong * 150 + gc)
            }
          }
          .toDF("y_chunk", "x_chunk", "v", "pos")
          .groupBy($"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"v").as("sum_cls"),
            sum($"v" * $"pos").as("pos_chk"))
          .orderBy($"y_chunk", $"x_chunk")
      },
      Some("""WITH z AS (SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c,
             |    (r*r + c*c) % 251 % 7 AS v
             |  FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)),
             |px AS (SELECT r, c FROM z
             |  WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |dirs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
             |  (0,0),(0,1),(1,-1),(1,0),(1,1)) d(dr, dc)),
             |n AS (SELECT p.r, p.c, zn.v
             |  FROM px p CROSS JOIN dirs d
             |  JOIN z zn ON zn.r = p.r + d.dr AND zn.c = p.c + d.dc),
             |cnt AS (SELECT r, c, v, count(*) AS n FROM n GROUP BY 1, 2, 3),
             |pick AS (SELECT r, c, v,
             |    row_number() OVER (PARTITION BY r, c
             |      ORDER BY n DESC, v ASC) AS rn
             |  FROM cnt)
             |SELECT CAST(r // 50 AS INT) AS y_chunk, CAST(c // 50 AS INT) AS x_chunk,
             |  count(*) AS n_px, CAST(sum(v) AS BIGINT) AS sum_cls,
             |  CAST(sum(v * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM pick WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- A13: MOMENTS census (the mergeable power-sum form behind
    // the moments sketch — Gan et al. VLDB 2018: S₁..S₄ plus n
    // reconstruct mean/variance/skewness/kurtosis, and partial sums
    // merge exactly) — the distribution-DRIFT gate of pipeline
    // telemetry: a shifted mean shows in S₁, widening tails in S₄,
    // long before a threshold alarm. Values in integer DOLLARS so x⁴
    // stays inside BIGINT at any SF (cents⁴ would overflow at sf0.1 —
    // the unit choice IS the overflow budget); the four sums are exact
    // integers, the derived central moments deterministic IEEE doubles
    // computed in the same expression order on both sides. One
    // map-side-combined aggregation — shuffle ≈ 0.
    Q("a13_moments",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .select($"event_type", quant($"value", 1).as("x"))
        def d(c: Column): Column = c.cast("double")
        val sums = ev.groupBy($"event_type").agg(
          count(lit(1)).as("n"), sum($"x").as("s1"),
          sum($"x" * $"x").as("s2"),
          sum($"x" * $"x" * $"x").as("s3"),
          sum($"x" * $"x" * $"x" * $"x").as("s4"))
        sums
          .withColumn("mean", d($"s1") / d($"n"))
          .withColumn("m2",
            d($"s2") / d($"n") - ($"mean" * $"mean"))
          .withColumn("skew_num",
            d($"s3") / d($"n") - lit(3.0) * $"mean" * (d($"s2") / d($"n"))
              + lit(2.0) * $"mean" * $"mean" * $"mean")
          .orderBy($"event_type")
      },
      Some("""WITH e AS (SELECT event_type,
             |    CAST(floor(value + 0.5) AS BIGINT) AS x FROM events),
             |s AS (SELECT event_type, count(*) AS n, sum(x) AS s1,
             |    sum(x*x) AS s2, sum(x*x*x) AS s3, sum(x*x*x*x) AS s4
             |  FROM e GROUP BY 1),
             |f AS (SELECT event_type, CAST(n AS BIGINT) AS n,
             |    CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
             |    CAST(s3 AS BIGINT) AS s3, CAST(s4 AS BIGINT) AS s4,
             |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean
             |  FROM s)
             |SELECT event_type, n, s1, s2, s3, s4, mean,
             |  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - (mean * mean) AS m2,
             |  CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
             |    - 3.0 * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
             |    + 2.0 * mean * mean * mean AS skew_num
             |FROM f ORDER BY 1""".stripMargin)),

    // ----- R49: FOCAL MAX/MIN at radius 3 (ArcGIS Focal Statistics
    // MAXIMUM/MINIMUM; greyscale dilation/erosion) — the first consumer
    // of the shared vHGW kernel beyond binary morphology, and the first
    // ARBITRARY-RADIUS focal verb in the oracle set: 3 comparisons per
    // pixel per pass at ANY radius (a direct rescan is O(r)/px), one
    // depth-r halo exchange. Ignore-nodata semantics (the focal-stats
    // default): grid-edge windows truncate, so every cell is emitted —
    // the oracle's BETWEEN-join window replays exactly that. Census per
    // (band, chunk) hash-gates every pixel of both bands.
    Q("r49_focal_extrema",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.Focal
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(251))
        Focal.focalExtrema(tiles, 50, 50, 150, 150, radius = 3)
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield {
              val gr = t.yChunk * 50 + r
              val gc = t.xChunk * 50 + c
              (t.band, t.yChunk, t.xChunk, v.toLong, gr.toLong * 150 + gc)
            }
          }
          .toDF("band", "y_chunk", "x_chunk", "v", "pos")
          .groupBy($"band", $"y_chunk", $"x_chunk")
          .agg(count(lit(1)).as("n_px"), sum($"v").as("sum_v"),
               sum($"v" * $"pos").as("pos_chk"))
          .orderBy($"band", $"y_chunk", $"x_chunk")
      },
      Some("""WITH z AS (SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c,
             |    (r*r + c*c) % 251 AS v
             |  FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)),
             |w AS (SELECT p.r, p.c, max(z.v) AS vmax, min(z.v) AS vmin
             |      FROM z p JOIN z ON z.r BETWEEN p.r - 3 AND p.r + 3
             |                     AND z.c BETWEEN p.c - 3 AND p.c + 3
             |      GROUP BY 1, 2),
             |u AS (SELECT 'gray_max' AS band, r, c, vmax AS v FROM w
             |      UNION ALL SELECT 'gray_min', r, c, vmin FROM w)
             |SELECT band, CAST(r//50 AS INT) AS y_chunk,
             |  CAST(c//50 AS INT) AS x_chunk, count(*) AS n_px,
             |  CAST(sum(v) AS BIGINT) AS sum_v,
             |  CAST(sum(v * (r*150 + c)) AS BIGINT) AS pos_chk
             |FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ----- X52: PERSISTED decontamination index — the v18 persist
    // contract applied to the exact-substring screen: the gram-HASH
    // index is built ONCE, written to parquet (8 bytes/gram — the
    // storage form a decontamination service keeps between sessions),
    // read back COLD in place of the in-memory frame, and the screen
    // census over the full eval side must equal the build-session
    // answer exactly (oracle: the same hash-replay SQL as x48). This is
    // the build-once-screen-forever contract ACROSS sessions, not just
    // across micro-batches within one query (s21's form).
    Q("x52_index_persist",
      (s, dir) => {
        import s.implicits._
        import graft.text.ExactSubstr
        val lengths = Seq(8, 16, 32)
        val docs = t(s, dir, "documents").select($"doc_id", $"text")
        val tr = docs.filter($"doc_id" % 5 =!= 0)
        val ev = docs.filter($"doc_id" % 5 === 0)
        val pdir = java.nio.file.Files.createTempDirectory("graft_x52_")
        pdir.toFile.deleteOnExit()
        val path = pdir.resolve("gram_index").toString
        ExactSubstr.buildHashIndex(tr, "text", lengths)
          .write.mode("overwrite").parquet(path)
        val reloaded = s.read.parquet(path)
        ExactSubstr.screenBatchHashed(reloaded, ev, "text", "doc_id", lengths)
          .orderBy($"gram_len")
      },
      Some("""WITH Ls AS (SELECT unnest([8, 16, 32]) AS L),
             |pos AS (SELECT CAST(i AS INT) AS i FROM range(1, 4097) t(i)),
             |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
             |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
             |evg AS (SELECT DISTINCT e.doc_id, Ls.L,
             |          ('0x'||substr(md5(substr(e.text, pos.i,
             |            CAST(Ls.L AS INT))),1,15))::BIGINT AS h
             |        FROM ev e CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(e.text) - Ls.L + 1),
             |trg AS (SELECT DISTINCT Ls.L,
             |          ('0x'||substr(md5(substr(t2.text, pos.i,
             |            CAST(Ls.L AS INT))),1,15))::BIGINT AS h
             |        FROM tr t2 CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(t2.text) - Ls.L + 1),
             |hit AS (SELECT DISTINCT evg.doc_id, evg.L FROM evg
             |        JOIN trg ON evg.L = trg.L AND evg.h = trg.h)
             |SELECT CAST(L AS INT) AS gram_len, count(*) AS n_docs_hit,
             |  CAST(sum(doc_id) AS BIGINT) AS id_chk
             |FROM hit GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X54: BUCKETED persisted gram index — x52's persisted index
    // written bucketBy(gram_len, h), so the RELOADED corpus-sized index
    // co-shuffle-joins future screens with ZERO index-side Exchange
    // (only the arriving batch shuffles into the bucket layout). This is
    // the screen shape for batches too big to broadcast — x52's
    // screenBatchHashed broadcasts the batch, this one sort-merge-joins.
    // The query ASSERTS the plan (j14 teeth-out discipline, broadcast
    // disabled for the window): exactly one SortMergeJoin, exactly ONE
    // Exchange — the batch side's — in the join subtree. Oracle: the
    // same census SQL as x52 (identical semantics, different layout).
    Q("x54_index_bucketed",
      (s, dir) => {
        import s.implicits._
        import graft.text.ExactSubstr
        val lengths = Seq(8, 16, 32)
        val docs = t(s, dir, "documents").select($"doc_id", $"text")
        val tr = docs.filter($"doc_id" % 5 =!= 0)
        val ev = docs.filter($"doc_id" % 5 === 0)
        val pdir = java.nio.file.Files.createTempDirectory("graft_x54_")
        ExactSubstr.saveHashIndexBucketed(
          ExactSubstr.buildHashIndex(tr, "text", lengths),
          "graft_x54_idx", pdir.resolve("gram_index").toString)
        try withConf(s)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val screened = ExactSubstr.screenBatchBucketed(
            s, "graft_x54_idx", ev, "text", "doc_id", lengths)
          // assert on the JOIN subtree (pre-agg): the index side must
          // read in place — one SMJ, one Exchange (the batch's). The
          // probe batch must span >1 rung: a single-rung frame constant-
          // folds gram_len out of the join keys, and bucketing on
          // (gram_len, h) is then rightly not used (measured: "Bucketed:
          // false (disabled by query planner)").
          val joined = s.table("graft_x54_idx").join(
            lengths.map { l =>
              ExactSubstr.gramHashes(ev, "text", l, keep = Seq("doc_id"))
                .select(lit(l).as("gram_len"), $"doc_id", $"h")
            }.reduce(_ unionByName _).hint("merge"),
            Seq("gram_len", "h"))
          val plan = joined.queryExecution.executedPlan
          val smjs = sortMergeJoinNodes(plan)
          require(smjs.length == 1,
            s"x54: expected a SortMergeJoin against the bucketed index:\n$plan")
          // the INDEX side (left) must read in place — its bucketing IS
          // the join distribution; the batch side pays the only
          // join-feeding Exchange (its internal per-rung distincts keep
          // their own, which is why the assert scopes to the left child)
          require(shuffleExchanges(smjs.head.left) == 0,
            "x54: the bucketed index side planned an Exchange — bucketing " +
            s"was not honored:\n$plan")
          screened.orderBy($"gram_len").localCheckpoint(true)
        } finally {
          // the screen result is checkpointed above, so the on-disk index
          // can go now — deleteOnExit only removes EMPTY directories, and
          // a fresh parquet copy per bench/verify pass would otherwise
          // leak in /tmp for the life of the machine
          s.sql("DROP TABLE IF EXISTS graft_x54_idx")
          deleteRecursively(pdir)
        }
      },
      Some("""WITH Ls AS (SELECT unnest([8, 16, 32]) AS L),
             |pos AS (SELECT CAST(i AS INT) AS i FROM range(1, 4097) t(i)),
             |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
             |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
             |evg AS (SELECT DISTINCT e.doc_id, Ls.L,
             |          ('0x'||substr(md5(substr(e.text, pos.i,
             |            CAST(Ls.L AS INT))),1,15))::BIGINT AS h
             |        FROM ev e CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(e.text) - Ls.L + 1),
             |trg AS (SELECT DISTINCT Ls.L,
             |          ('0x'||substr(md5(substr(t2.text, pos.i,
             |            CAST(Ls.L AS INT))),1,15))::BIGINT AS h
             |        FROM tr t2 CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(t2.text) - Ls.L + 1),
             |hit AS (SELECT DISTINCT evg.doc_id, evg.L FROM evg
             |        JOIN trg ON evg.L = trg.L AND evg.h = trg.h)
             |SELECT CAST(L AS INT) AS gram_len, count(*) AS n_docs_hit,
             |  CAST(sum(doc_id) AS BIGINT) AS id_chk
             |FROM hit GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X55: INCREMENTAL bucketed-index APPEND — the lifecycle arm
    // x54 lacked (its 2.9 s is a fresh build+write per run; the real
    // decontamination loop is build-once / append-often): the index is
    // built from MOST of the train corpus, a later increment APPENDS the
    // remaining docs' gram hashes into the same (gram_len, h) bucket
    // layout (only the increment shuffles; the existing index files are
    // never read or rewritten), and the screen then runs against the
    // appended table. The zero-index-side-Exchange plan assert stays
    // teeth-out AFTER the append (buckets gain one file each; Spark
    // reads a bucket's files in its bucket task — per-bucket sort
    // degrades to a task-local Sort, never an Exchange). Oracle: the
    // x54 census SQL verbatim — an appended index must screen exactly
    // like a from-scratch index over the full corpus.
    Q("x55_index_append",
      (s, dir) => {
        import s.implicits._
        import graft.text.ExactSubstr
        val lengths = Seq(8, 16, 32)
        val docs = t(s, dir, "documents").select($"doc_id", $"text")
        val trBase = docs.filter($"doc_id" % 5 === 1 || $"doc_id" % 5 === 2 ||
          $"doc_id" % 5 === 3)
        val trInc = docs.filter($"doc_id" % 5 === 4)
        val ev = docs.filter($"doc_id" % 5 === 0)
        val pdir = java.nio.file.Files.createTempDirectory("graft_x55_")
        ExactSubstr.saveHashIndexBucketed(
          ExactSubstr.buildHashIndex(trBase, "text", lengths),
          "graft_x55_idx", pdir.resolve("gram_index").toString)
        ExactSubstr.appendHashIndexBucketed(trInc, "text", "graft_x55_idx",
          lengths)
        try withConf(s)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val screened = ExactSubstr.screenBatchBucketed(
            s, "graft_x55_idx", ev, "text", "doc_id", lengths)
          // the x54 plan assert, now against the APPENDED table: one
          // SMJ, zero Exchange under the index side (probe spans >1
          // rung so gram_len stays a join key — the constant-folding
          // bucketing trap)
          val joined = s.table("graft_x55_idx").join(
            lengths.map { l =>
              ExactSubstr.gramHashes(ev, "text", l, keep = Seq("doc_id"))
                .select(lit(l).as("gram_len"), $"doc_id", $"h")
            }.reduce(_ unionByName _).hint("merge"),
            Seq("gram_len", "h"))
          val plan = joined.queryExecution.executedPlan
          val smjs = sortMergeJoinNodes(plan)
          require(smjs.length == 1,
            s"x55: expected a SortMergeJoin against the appended index:\n$plan")
          require(shuffleExchanges(smjs.head.left) == 0,
            "x55: the appended bucketed index side planned an Exchange — " +
            s"bucketing was not honored after append:\n$plan")
          screened.orderBy($"gram_len").localCheckpoint(true)
        } finally {
          s.sql("DROP TABLE IF EXISTS graft_x55_idx")
          deleteRecursively(pdir)
        }
      },
      Some("""WITH Ls AS (SELECT unnest([8, 16, 32]) AS L),
             |pos AS (SELECT CAST(i AS INT) AS i FROM range(1, 4097) t(i)),
             |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
             |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
             |evg AS (SELECT DISTINCT e.doc_id, Ls.L,
             |          ('0x'||substr(md5(substr(e.text, pos.i,
             |            CAST(Ls.L AS INT))),1,15))::BIGINT AS h
             |        FROM ev e CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(e.text) - Ls.L + 1),
             |trg AS (SELECT DISTINCT Ls.L,
             |          ('0x'||substr(md5(substr(t2.text, pos.i,
             |            CAST(Ls.L AS INT))),1,15))::BIGINT AS h
             |        FROM tr t2 CROSS JOIN Ls
             |        JOIN pos ON pos.i <= length(t2.text) - Ls.L + 1),
             |hit AS (SELECT DISTINCT evg.doc_id, evg.L FROM evg
             |        JOIN trg ON evg.L = trg.L AND evg.h = trg.h)
             |SELECT CAST(L AS INT) AS gram_len, count(*) AS n_docs_hit,
             |  CAST(sum(doc_id) AS BIGINT) AS id_chk
             |FROM hit GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- X56: SHARED positional-array side table — the cross-rung key
    // reuse arm (x51/x52/x53/s21 each rebuilt bottom-rung gram hashes
    // from text independently; the r17 stretch ask): ONE text pass
    // persists every doc's positional base-gram hash array (bucketed by
    // doc id, the x54 lifecycle discipline), and the WHOLE ladder census
    // then derives from the arrays alone — a length-m window is
    // characterized by its base members at offsets 0, b, …, m−b (tiling
    // ⇒ member equality forces window string equality, up to base-hash
    // collisions), so rung 16 is an equi-join on member PAIRS and rung
    // 32 on member QUADS, zero further text scans and zero new kernels.
    // The members are md5-prefix hashes both engines compute
    // identically, so the oracle replays the member-tuple joins exactly
    // (collisions move both engines together — the hashed-census
    // discipline). Census values equal x48's string-gram census up to
    // that hash class.
    Q("x56_shared_arrays",
      (s, dir) => {
        import s.implicits._
        import graft.text.ExactSubstr
        val docs = t(s, dir, "documents").select($"doc_id", $"text")
        val pdir = java.nio.file.Files.createTempDirectory("graft_x56_")
        ExactSubstr.savePosArraysBucketed(docs, "text", "doc_id", 8,
          "graft_x56_pos", pdir.resolve("pos_arrays").toString)
        try {
          val pos = s.table("graft_x56_pos")
          val ev = pos.filter($"doc_id" % 5 === 0)
          val tr = pos.filter($"doc_id" % 5 =!= 0)
          Seq(8, 16, 32).map { m =>
            val evW = ExactSubstr.windowMembers(ev, "doc_id", m, 8)
            val trK = ExactSubstr.windowMembers(tr, "doc_id", m, 8)
              .drop("doc_id").distinct()
            evW.join(trK, trK.columns.toSeq)
              .select($"doc_id").distinct()
              .agg(count(lit(1)).as("n_docs_hit"),
                coalesce(sum($"doc_id"), lit(0L)).as("id_chk"))
              .select(lit(m).as("gram_len"), $"n_docs_hit", $"id_chk")
          }.reduce(_ unionByName _).orderBy($"gram_len").localCheckpoint(true)
        } finally {
          s.sql("DROP TABLE IF EXISTS graft_x56_pos")
          deleteRecursively(pdir)
        }
      },
      Some("""WITH pos AS (SELECT CAST(i AS INT) AS i FROM range(1, 4097) t(i)),
             |g AS (SELECT doc_id, pos.i AS i,
             |        ('0x'||substr(md5(substr(text, pos.i, 8)),1,15))::BIGINT AS h
             |      FROM documents JOIN pos ON pos.i <= length(text) - 7),
             |w8 AS (SELECT DISTINCT doc_id, h AS m0 FROM g),
             |w16 AS (SELECT DISTINCT a.doc_id, a.h AS m0, b.h AS m1
             |        FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.i = a.i + 8),
             |w32 AS (SELECT DISTINCT a.doc_id, a.h AS m0, b.h AS m1,
             |          c.h AS m2, d.h AS m3
             |        FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.i = a.i + 8
             |                 JOIN g c ON c.doc_id = a.doc_id AND c.i = a.i + 16
             |                 JOIN g d ON d.doc_id = a.doc_id AND d.i = a.i + 24),
             |h8 AS (SELECT DISTINCT e.doc_id FROM w8 e
             |       JOIN w8 t2 ON t2.m0 = e.m0 AND t2.doc_id % 5 <> 0
             |       WHERE e.doc_id % 5 = 0),
             |h16 AS (SELECT DISTINCT e.doc_id FROM w16 e
             |        JOIN w16 t2 ON t2.m0 = e.m0 AND t2.m1 = e.m1
             |          AND t2.doc_id % 5 <> 0
             |        WHERE e.doc_id % 5 = 0),
             |h32 AS (SELECT DISTINCT e.doc_id FROM w32 e
             |        JOIN w32 t2 ON t2.m0 = e.m0 AND t2.m1 = e.m1
             |          AND t2.m2 = e.m2 AND t2.m3 = e.m3
             |          AND t2.doc_id % 5 <> 0
             |        WHERE e.doc_id % 5 = 0)
             |SELECT CAST(8 AS INT) AS gram_len, count(*) AS n_docs_hit,
             |  CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_chk FROM h8
             |UNION ALL
             |SELECT CAST(16 AS INT), count(*),
             |  CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM h16
             |UNION ALL
             |SELECT CAST(32 AS INT), count(*),
             |  CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM h32
             |ORDER BY 1""".stripMargin)),

    // ----- X53: EXACT longest-shared-substring length per contaminated
    // eval doc — the refinement that closes the ladder's bracket to
    // Lee et al.'s suffix-array answer (clamped at maxProbe=96, the
    // oracle's suffix-truncation bound). Engine: per-doc bracket from
    // the string-verified rung ladder (corpus-scale movement stays
    // 8-byte hashes), then a grouped binary search where every round is
    // ONE per-row-length gram pass over the flagged docs against the
    // bottom-rung-restricted train HIT set — log2(max rung gap) rounds,
    // never a corpus pass. Oracle: the classic suffix-array argument in
    // SQL — the longest shared substring of an eval suffix is its max
    // LCP with the NEAREST train suffixes in global sorted suffix order,
    // so one window pass (lag/lead IGNORE NULLS over the merged
    // truncated suffix list) + a per-pair LCP scan gives each doc's true
    // maximum. Every flagged doc's exact length is hash-gated.
    Q("x53_exact_substr_longest",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").select($"doc_id", $"text")
        val ev = docs.filter($"doc_id" % 5 === 0)
        val tr = docs.filter($"doc_id" % 5 =!= 0)
        graft.text.ExactSubstr
          .longestSharedSubstr(tr, ev, "text", "doc_id",
            Seq(8, 16, 32), maxProbe = 96)
          .select($"doc_id", $"longest".cast("long").as("longest"))
          .orderBy($"doc_id")
      },
      Some("""WITH docs AS (SELECT doc_id, text, (doc_id % 5 = 0) AS is_ev
             |  FROM documents),
             |pos AS (SELECT CAST(i AS INT) AS i FROM range(1, 4097) t(i)),
             |sufs AS (SELECT doc_id, is_ev, substr(text, pos.i, 96) AS suf
             |         FROM docs JOIN pos ON pos.i <= length(text)),
             |ordw AS (SELECT doc_id, is_ev, suf,
             |          lag(CASE WHEN NOT is_ev THEN suf END IGNORE NULLS)
             |            OVER (ORDER BY suf, is_ev, doc_id) AS prev_t,
             |          lead(CASE WHEN NOT is_ev THEN suf END IGNORE NULLS)
             |            OVER (ORDER BY suf, is_ev, doc_id) AS next_t
             |         FROM sufs),
             |pairs AS (SELECT doc_id, suf, nb FROM (
             |            SELECT doc_id, suf, prev_t AS nb FROM ordw WHERE is_ev
             |            UNION ALL
             |            SELECT doc_id, suf, next_t FROM ordw WHERE is_ev)
             |          WHERE nb IS NOT NULL),
             |lcp AS (SELECT doc_id,
             |         (SELECT coalesce(max(k), 0) FROM range(1, 97) t(k)
             |          WHERE k <= least(length(suf), length(nb))
             |            AND substr(suf, 1, CAST(k AS INT))
             |              = substr(nb, 1, CAST(k AS INT))) AS l
             |        FROM pairs)
             |SELECT doc_id, CAST(max(l) AS BIGINT) AS longest
             |FROM lcp GROUP BY doc_id HAVING max(l) >= 8
             |ORDER BY doc_id""".stripMargin)),

    // ----- R47: BASIN OUTLINES — the raster→vector closure of the
    // hydrology family (r35's per-cell basin labels → per-basin closed
    // polygon RINGS, what a GIS user downloads as watershed polygons):
    // boundary pieces where the 4-neighbor's basin differs, the
    // diagonal-touch corner split (D8 basins are 8-connected, so
    // diagonal self-touches are routine), ring CC, and ordered vertex
    // walks through the SAME size-routed machinery as contour lines
    // (Contour.orderedVertexKeys — sequential inside a group at fixture
    // scale, Wyllie for coastline-scale giants). The oracle replays the
    // whole chain — D8 edges, pointer-following, boundary pieces,
    // corner salting, ring min-label, and the vertex WALK — so every
    // ring's exact vertex sequence is hash-gated via ord-weighted
    // coordinate checksums.
    Q("r47_basin_outlines",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.ops.{Flow, Focal, Regions}
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0))
        val tiles = TileScan.scan(s, assets, spec, chunk = 50,
          readerFor = _ => ModRampReader(11))
        val dirs = Focal.d8Flow3x3(tiles, 50, 50, 150, 150)
        val basins = Flow.basins(Flow.d8Edges(dirs, 50, 50, 150, 150), rounds = 8)
        val labels = basins.select(expr("node div 150").cast("int").as("r"),
          ($"node" % 150).cast("int").as("c"), $"basin".as("lab"))
        graft.ops.Regions.outlines(labels, 150, 150)
          .groupBy($"lab".as("basin"))
          .agg(countDistinct($"ring").as("n_rings"), count(lit(1)).as("n_rows"),
            max($"ord").as("max_ord"), sum($"ord" * $"y").as("ordy_chk"),
            sum($"ord" * $"x").as("ordx_chk"))
          .orderBy($"basin")
      },
      Some("""WITH RECURSIVE
             |px AS (SELECT r, c FROM range(0,150) t(r) CROSS JOIN range(0,150) u(c)
             |       WHERE r BETWEEN 1 AND 148 AND c BETWEEN 1 AND 148),
             |dirs AS (SELECT * FROM (VALUES
             |  (0, 0, 1, 1), (1, 1, 1, 2), (2, 1, 0, 1), (3, 1, -1, 2),
             |  (4, 0, -1, 1), (5, -1, -1, 2), (6, -1, 0, 1), (7, -1, 1, 2)
             |  ) AS v(ord, dr, dc, dist2)),
             |rates AS (SELECT p.r, p.c, d.ord, d.dr, d.dc,
             |    CAST((p.r*p.r + p.c*p.c) % 11
             |       - ((p.r+d.dr)*(p.r+d.dr) + (p.c+d.dc)*(p.c+d.dc)) % 11 AS DOUBLE)
             |      / sqrt(CAST(d.dist2 AS DOUBLE)) AS rate
             |  FROM px p CROSS JOIN dirs d),
             |rk AS (SELECT r, c, dr, dc, rate,
             |    row_number() OVER (PARTITION BY r, c ORDER BY rate DESC, ord) AS rn
             |  FROM rates),
             |e AS (SELECT r*150 + c AS src, (r+dr)*150 + (c+dc) AS dst
             |      FROM rk WHERE rn = 1 AND rate > 0),
             |walk AS (SELECT src AS node, dst AS cur FROM e
             |         UNION ALL SELECT w.node, e.dst FROM walk w JOIN e ON w.cur = e.src),
             |fin AS (SELECT node, cur AS basin FROM walk
             |          WHERE cur NOT IN (SELECT src FROM e)
             |        UNION ALL
             |        SELECT DISTINCT dst, dst FROM e
             |          WHERE dst NOT IN (SELECT src FROM e)),
             |lb AS (SELECT CAST(node // 150 AS BIGINT) AS r,
             |         CAST(node % 150 AS BIGINT) AS c,
             |         CAST(basin AS BIGINT) AS lab FROM fin),
             |d4 AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1)) v(dr,dc)),
             |pc AS (SELECT l.lab, l.r*150 + l.c AS inside,
             |         CASE WHEN d.dr=1 THEN (l.r+1)*151 + l.c
             |              WHEN d.dc=1 THEN l.r*151 + l.c + 1
             |              ELSE l.r*151 + l.c END AS ca,
             |         CASE WHEN d.dr=-1 THEN l.r*151 + l.c + 1
             |              WHEN d.dr=1  THEN (l.r+1)*151 + l.c + 1
             |              WHEN d.dc=-1 THEN (l.r+1)*151 + l.c
             |              ELSE (l.r+1)*151 + l.c + 1 END AS cb
             |       FROM lb l CROSS JOIN d4 d
             |       LEFT JOIN lb n ON n.r = l.r + d.dr AND n.c = l.c + d.dc
             |       WHERE n.lab IS NULL OR n.lab <> l.lab),
             |en AS (SELECT lab, inside, ca AS corner FROM pc
             |       UNION ALL SELECT lab, inside, cb FROM pc),
             |cs AS (SELECT lab, corner, count(*) AS n, min(inside) AS mi
             |       FROM en GROUP BY 1, 2),
             |ky AS (SELECT p.lab,
             |         p.lab*45602 + p.ca*2
             |           + (CASE WHEN a.n=4 AND p.inside<>a.mi THEN 1 ELSE 0 END) AS k1,
             |         p.lab*45602 + p.cb*2
             |           + (CASE WHEN b.n=4 AND p.inside<>b.mi THEN 1 ELSE 0 END) AS k2
             |       FROM pc p JOIN cs a ON a.lab=p.lab AND a.corner=p.ca
             |                 JOIN cs b ON b.lab=p.lab AND b.corner=p.cb),
             |ad AS (SELECT lab, k1 AS a, k2 AS b FROM ky
             |       UNION SELECT lab, k2, k1 FROM ky),
             |nbr AS (SELECT lab, a AS v, min(b) AS n1, max(b) AS n2
             |        FROM ad GROUP BY 1, 2),
             |reach AS (SELECT lab, a, a AS b FROM (SELECT DISTINCT lab, a FROM ad)
             |          UNION SELECT r.lab, r.a, ad.b
             |          FROM reach r JOIN ad ON r.lab = ad.lab AND r.b = ad.a),
             |rg AS (SELECT lab, a AS v, min(b) AS ring FROM reach GROUP BY 1, 2),
             |wk AS (SELECT r.lab, r.ring, 0 AS ord,
             |         CAST(NULL AS BIGINT) AS prev, r.ring AS cur
             |       FROM (SELECT DISTINCT lab, ring FROM rg) r
             |       UNION ALL
             |       SELECT w.lab, w.ring, w.ord + 1, w.cur,
             |         CASE WHEN w.prev IS NULL THEN n.n1
             |              WHEN n.n1 = w.prev THEN n.n2 ELSE n.n1 END
             |       FROM wk w JOIN nbr n ON n.lab = w.lab AND n.v = w.cur
             |       WHERE NOT (w.cur = w.ring AND w.ord > 0)),
             |vx AS (SELECT lab, ring, ord,
             |         ((cur % 45602) // 2) // 151 AS y,
             |         ((cur % 45602) // 2) % 151 AS x FROM wk)
             |SELECT CAST(lab AS BIGINT) AS basin,
             |  CAST(count(DISTINCT ring) AS BIGINT) AS n_rings,
             |  count(*) AS n_rows, CAST(max(ord) AS BIGINT) AS max_ord,
             |  CAST(sum(ord * y) AS BIGINT) AS ordy_chk,
             |  CAST(sum(ord * x) AS BIGINT) AS ordx_chk
             |FROM vx GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R48: REGION LABELING (GRASS r.clump; the `polygonize`
    // precursor): connected components of 4-adjacent EQUAL-VALUED cells
    // over halo-free chunked input — the generic raster clustering verb
    // r35's basins and r47's outlines specialize. Region id is the
    // component-minimum packed cell id (data-determined, parallelism-
    // invariant); diagonal-only touches split (the 4-connectivity
    // convention). Census: per region, size + position checksum — the
    // oracle replays the CC as a recursive reachability closure.
    Q("r48_label_regions",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 600.0, 600.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 600.0, 600.0, 1.0, 0.0))
        val cells = TileScan.scan(s, assets, spec, chunk = 20,
            readerFor = _ => ModRampReader(11))
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield (t.yChunk * 20 + r, t.xChunk * 20 + c, v.toLong % 3)
          }.toDF("r", "c", "v")
        graft.ops.Regions.labelRegions(cells, width = 60)
          .groupBy($"region")
          .agg(count(lit(1)).as("n_cells"),
            sum($"r".cast("long") * 60 + $"c").as("pos_chk"))
          .orderBy($"region")
      },
      Some("""WITH RECURSIVE
             |z AS (SELECT r, c, (r*r + c*c) % 11 % 3 AS v
             |      FROM range(0,60) t(r) CROSS JOIN range(0,60) u(c)),
             |ad0 AS (SELECT a.r*60 + a.c AS a, b.r*60 + b.c AS b
             |        FROM z a JOIN z b ON b.v = a.v
             |          AND ((b.r = a.r AND b.c = a.c + 1)
             |            OR (b.r = a.r + 1 AND b.c = a.c))),
             |ad AS (SELECT a, b FROM ad0 UNION SELECT b, a FROM ad0),
             |reach AS (SELECT r*60 + c AS a, r*60 + c AS b FROM z
             |          UNION SELECT r.a, ad.b FROM reach r JOIN ad ON r.b = ad.a),
             |rg AS (SELECT a AS node, min(b) AS region FROM reach GROUP BY 1)
             |SELECT CAST(region AS BIGINT) AS region, count(*) AS n_cells,
             |  CAST(sum(node) AS BIGINT) AS pos_chk
             |FROM rg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R50: RING SHOELACE CENSUS — the last step of the GIS
    // polygonize deliverable: the r47/r48 ring machinery's ordered
    // vertices reduced to per-ring perimeter + enclosed area (Gauss's
    // shoelace, kept as 2A so cell-corner coordinates stay integer-
    // exact; every outlines walk starts at the ring's top-left corner
    // stepping east, so all rings share one orientation and area2 is
    // always 2 x the enclosed area — hole rings report the hole's own
    // area, roles being a containment question). The oracle replays the
    // ENTIRE chain (pieces -> corner salting -> ring CC -> min-start/
    // min-neighbor ordered walk) like r47, then folds consecutive walk
    // vertices through the shoelace — every ring's exact area is
    // hash-gated per label.
    Q("r50_ring_census",
      (s, _) => {
        import s.implicits._
        import graft.core.{Bounds, RasterSpec}
        import graft.scan.{AssetRow, ModRampReader, TileScan}
        val spec = RasterSpec(3857, Bounds(0.0, 0.0, 600.0, 600.0), 10.0, 10.0)
        val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
          0.0, 0.0, 600.0, 600.0, 1.0, 0.0))
        val cells = TileScan.scan(s, assets, spec, chunk = 20,
            readerFor = _ => ModRampReader(11))
          .flatMap { t =>
            for {
              r <- 0 until t.height; c <- 0 until t.width
              v = t.pixels(r * t.width + c) if !v.isNaN
            } yield (t.yChunk * 20 + r, t.xChunk * 20 + c, v.toLong % 3)
          }.toDF("r", "c", "lab")
        val rings = graft.ops.Regions.outlines(cells, 60, 60)
        graft.ops.Regions.ringCensus(rings)
          .groupBy($"lab")
          .agg(count(lit(1)).as("n_rings"),
            sum($"perimeter").as("perim_sum"),
            sum($"area2").as("area2_sum"),
            sum(($"ring" % 97) * $"area2").as("ring_area_chk"))
          .orderBy($"lab")
      },
      Some("""WITH RECURSIVE
             |z AS (SELECT r, c, (r*r + c*c) % 11 % 3 AS lab
             |      FROM range(0,60) t(r) CROSS JOIN range(0,60) u(c)),
             |d4 AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1)) v(dr,dc)),
             |pc AS (SELECT l.lab, l.r*60 + l.c AS inside,
             |         CASE WHEN d.dr=1 THEN (l.r+1)*61 + l.c
             |              WHEN d.dc=1 THEN l.r*61 + l.c + 1
             |              ELSE l.r*61 + l.c END AS ca,
             |         CASE WHEN d.dr=-1 THEN l.r*61 + l.c + 1
             |              WHEN d.dr=1  THEN (l.r+1)*61 + l.c + 1
             |              WHEN d.dc=-1 THEN (l.r+1)*61 + l.c
             |              ELSE (l.r+1)*61 + l.c + 1 END AS cb
             |       FROM z l CROSS JOIN d4 d
             |       LEFT JOIN z n ON n.r = l.r + d.dr AND n.c = l.c + d.dc
             |       WHERE n.lab IS NULL OR n.lab <> l.lab),
             |en AS (SELECT lab, inside, ca AS corner FROM pc
             |       UNION ALL SELECT lab, inside, cb FROM pc),
             |cs AS (SELECT lab, corner, count(*) AS n, min(inside) AS mi
             |       FROM en GROUP BY 1, 2),
             |ky AS (SELECT p.lab,
             |         p.lab*7442 + p.ca*2
             |           + (CASE WHEN a.n=4 AND p.inside<>a.mi THEN 1 ELSE 0 END) AS k1,
             |         p.lab*7442 + p.cb*2
             |           + (CASE WHEN b.n=4 AND p.inside<>b.mi THEN 1 ELSE 0 END) AS k2
             |       FROM pc p JOIN cs a ON a.lab=p.lab AND a.corner=p.ca
             |                 JOIN cs b ON b.lab=p.lab AND b.corner=p.cb),
             |ad AS (SELECT lab, k1 AS a, k2 AS b FROM ky
             |       UNION SELECT lab, k2, k1 FROM ky),
             |nbr AS (SELECT lab, a AS v, min(b) AS n1, max(b) AS n2
             |        FROM ad GROUP BY 1, 2),
             |reach AS (SELECT lab, a, a AS b FROM (SELECT DISTINCT lab, a FROM ad)
             |          UNION SELECT r.lab, r.a, ad.b
             |          FROM reach r JOIN ad ON r.lab = ad.lab AND r.b = ad.a),
             |rg AS (SELECT lab, a AS v, min(b) AS ring FROM reach GROUP BY 1, 2),
             |wk AS (SELECT r.lab, r.ring, 0 AS ord,
             |         CAST(NULL AS BIGINT) AS prev, r.ring AS cur
             |       FROM (SELECT DISTINCT lab, ring FROM rg) r
             |       UNION ALL
             |       SELECT w.lab, w.ring, w.ord + 1, w.cur,
             |         CASE WHEN w.prev IS NULL THEN n.n1
             |              WHEN n.n1 = w.prev THEN n.n2 ELSE n.n1 END
             |       FROM wk w JOIN nbr n ON n.lab = w.lab AND n.v = w.cur
             |       WHERE NOT (w.cur = w.ring AND w.ord > 0)),
             |vx AS (SELECT lab, ring, ord,
             |         ((cur % 7442) // 2) // 61 AS y,
             |         ((cur % 7442) // 2) % 61 AS x FROM wk),
             |sh AS (SELECT a.lab, a.ring, a.x*b.y - b.x*a.y AS term
             |       FROM vx a JOIN vx b ON b.lab = a.lab AND b.ring = a.ring
             |         AND b.ord = a.ord + 1),
             |rc AS (SELECT lab, ring, count(*) AS perimeter,
             |         sum(term) AS area2 FROM sh GROUP BY 1, 2)
             |SELECT CAST(lab AS BIGINT) AS lab, count(*) AS n_rings,
             |  CAST(sum(perimeter) AS BIGINT) AS perim_sum,
             |  CAST(sum(area2) AS BIGINT) AS area2_sum,
             |  CAST(sum((ring % 97) * area2) AS BIGINT) AS ring_area_chk
             |FROM rc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- R51: RING ROLES — the final polygonize semantic (deferred by
    // r50's scaladoc: "roles being a containment question"): per (label,
    // ring), SHELL vs HOLE and each hole's immediately enclosing shell.
    // Even-odd ray containment on exact integers: each ring's test point
    // is the center of the cell south-east of its walk-start corner
    // (strictly inside the curve for shells and holes alike), the
    // rightward ray at a half-integer row crosses only VERTICAL edges of
    // the other rings at that row — an equi-join on (label, row), never
    // all-pairs. depth parity gives the role; the DEEPEST containing
    // ring (containment nests, depths are distinct) is a hole's parent.
    // Fixture: concentric chebyshev bands mod 3 on a 60x60 grid — every
    // label owns nested annuli (shells at depth 2, holes at depth 3 with
    // nested parents) plus the clipped L-shaped outermost band. The
    // oracle replays the ENTIRE chain (pieces -> corner salting -> ring
    // CC -> ordered walk, the r50 recursive-CTE machinery) and then the
    // same ray-parity roles in SQL — every ring's role and parent is
    // hash-gated.
    Q("r51_ring_roles",
      (s, _) => {
        import s.implicits._
        val cells = s.range(3600)
          .select(($"id" / 60).cast("int").as("r"),
            ($"id" % 60).cast("int").as("c"))
          .select($"r", $"c",
            expr("(CAST(greatest(abs(r - 30), abs(c - 30)) AS BIGINT) div 5) % 3")
              .as("lab"))
        graft.ops.Regions.ringRoles(
            graft.ops.Regions.outlines(cells, 60, 60))
          .select($"lab", $"ring", $"role",
            coalesce($"parent_ring", lit(-1L)).as("parent_ring"))
          .orderBy($"lab", $"ring")
      },
      Some("""WITH RECURSIVE
             |z AS (SELECT r, c,
             |        (CAST(greatest(abs(r - 30), abs(c - 30)) AS BIGINT) // 5) % 3 AS lab
             |      FROM range(0,60) t(r) CROSS JOIN range(0,60) u(c)),
             |d4 AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1)) v(dr,dc)),
             |pc AS (SELECT l.lab, l.r*60 + l.c AS inside,
             |         CASE WHEN d.dr=1 THEN (l.r+1)*61 + l.c
             |              WHEN d.dc=1 THEN l.r*61 + l.c + 1
             |              ELSE l.r*61 + l.c END AS ca,
             |         CASE WHEN d.dr=-1 THEN l.r*61 + l.c + 1
             |              WHEN d.dr=1  THEN (l.r+1)*61 + l.c + 1
             |              WHEN d.dc=-1 THEN (l.r+1)*61 + l.c
             |              ELSE (l.r+1)*61 + l.c + 1 END AS cb
             |       FROM z l CROSS JOIN d4 d
             |       LEFT JOIN z n ON n.r = l.r + d.dr AND n.c = l.c + d.dc
             |       WHERE n.lab IS NULL OR n.lab <> l.lab),
             |en AS (SELECT lab, inside, ca AS corner FROM pc
             |       UNION ALL SELECT lab, inside, cb FROM pc),
             |cs AS (SELECT lab, corner, count(*) AS n, min(inside) AS mi
             |       FROM en GROUP BY 1, 2),
             |ky AS (SELECT p.lab,
             |         p.lab*7442 + p.ca*2
             |           + (CASE WHEN a.n=4 AND p.inside<>a.mi THEN 1 ELSE 0 END) AS k1,
             |         p.lab*7442 + p.cb*2
             |           + (CASE WHEN b.n=4 AND p.inside<>b.mi THEN 1 ELSE 0 END) AS k2
             |       FROM pc p JOIN cs a ON a.lab=p.lab AND a.corner=p.ca
             |                 JOIN cs b ON b.lab=p.lab AND b.corner=p.cb),
             |ad AS (SELECT lab, k1 AS a, k2 AS b FROM ky
             |       UNION SELECT lab, k2, k1 FROM ky),
             |nbr AS (SELECT lab, a AS v, min(b) AS n1, max(b) AS n2
             |        FROM ad GROUP BY 1, 2),
             |reach AS (SELECT lab, a, a AS b FROM (SELECT DISTINCT lab, a FROM ad)
             |          UNION SELECT r.lab, r.a, ad.b
             |          FROM reach r JOIN ad ON r.lab = ad.lab AND r.b = ad.a),
             |rg AS (SELECT lab, a AS v, min(b) AS ring FROM reach GROUP BY 1, 2),
             |wk AS (SELECT r.lab, r.ring, 0 AS ord,
             |         CAST(NULL AS BIGINT) AS prev, r.ring AS cur
             |       FROM (SELECT DISTINCT lab, ring FROM rg) r
             |       UNION ALL
             |       SELECT w.lab, w.ring, w.ord + 1, w.cur,
             |         CASE WHEN w.prev IS NULL THEN n.n1
             |              WHEN n.n1 = w.prev THEN n.n2 ELSE n.n1 END
             |       FROM wk w JOIN nbr n ON n.lab = w.lab AND n.v = w.cur
             |       WHERE NOT (w.cur = w.ring AND w.ord > 0)),
             |vx AS (SELECT lab, ring, ord,
             |         ((cur % 7442) // 2) // 61 AS y,
             |         ((cur % 7442) // 2) % 61 AS x FROM wk),
             |segs AS (SELECT a.lab, a.ring AS s, least(a.y, b.y) AS ey, a.x AS ex
             |         FROM vx a JOIN vx b ON b.lab = a.lab AND b.ring = a.ring
             |           AND b.ord = a.ord + 1
             |         WHERE b.x = a.x AND b.y <> a.y),
             |tp AS (SELECT lab, ring AS r, y AS ty, x AS tx FROM vx WHERE ord = 0),
             |cr AS (SELECT t.lab, t.r, s.s, count(*) AS n
             |       FROM tp t JOIN segs s ON s.lab = t.lab AND s.ey = t.ty
             |         AND s.ex > t.tx
             |       GROUP BY 1, 2, 3),
             |cont AS (SELECT lab, r, s FROM cr WHERE r <> s AND n % 2 = 1),
             |dep AS (SELECT t.lab, t.r, count(c.s) AS depth
             |        FROM tp t LEFT JOIN cont c ON c.lab = t.lab AND c.r = t.r
             |        GROUP BY 1, 2),
             |par AS (SELECT c.lab, c.r, arg_max(c.s, d2.depth) AS parent
             |        FROM cont c JOIN dep d2 ON d2.lab = c.lab AND d2.r = c.s
             |        GROUP BY 1, 2)
             |SELECT CAST(d.lab AS BIGINT) AS lab, CAST(d.r AS BIGINT) AS ring,
             |  CAST(d.depth % 2 AS INT) AS role,
             |  CAST(CASE WHEN d.depth % 2 = 1 THEN p.parent ELSE -1 END
             |    AS BIGINT) AS parent_ring
             |FROM dep d LEFT JOIN par p ON p.lab = d.lab AND p.r = d.r
             |ORDER BY 1, 2""".stripMargin)),

    // ----- R52: POLYGON census — the polygonize chain's terminal
    // product (what a GIS user actually downloads: polygons = shell +
    // holes with NET areas): Regions.polygonCensus composes the
    // shoelace (r50) with the roles (r51) — per shell, hole count, net
    // doubled area (shell − Σ holes; all rings positively oriented),
    // total boundary length (shell + hole perimeters). The oracle is
    // DELIBERATELY cross-derived: polygon/hole counts and boundary
    // replay the full ring chain (pieces → salting → CC → walk → roles,
    // the r51 machinery + r50 shoelace for perimeters), while the net
    // area per label comes from the RAW FIELD as 2 × cell count — the
    // identity "Σ net_area2 over a label's polygons == 2 × its cells"
    // holds exactly iff the whole shoelace/role/parent composition is
    // right (holes subtract, nested islands re-add), so the two engines
    // must agree through entirely different derivations.
    Q("r52_polygon_census",
      (s, _) => {
        import s.implicits._
        val cells = s.range(3600)
          .select(($"id" / 60).cast("int").as("r"),
            ($"id" % 60).cast("int").as("c"))
          .select($"r", $"c",
            expr("(CAST(greatest(abs(r - 30), abs(c - 30)) AS BIGINT) div 5) % 3")
              .as("lab"))
        graft.ops.Regions.polygonCensus(
            graft.ops.Regions.outlines(cells, 60, 60))
          .groupBy($"lab")
          .agg(count(lit(1)).as("n_polys"), sum($"n_holes").as("n_holes"),
            sum($"net_area2").as("net_area2_sum"),
            sum($"boundary_len").as("boundary_sum"))
          .orderBy($"lab")
      },
      Some("""WITH RECURSIVE
             |z AS (SELECT r, c,
             |        (CAST(greatest(abs(r - 30), abs(c - 30)) AS BIGINT) // 5) % 3 AS lab
             |      FROM range(0,60) t(r) CROSS JOIN range(0,60) u(c)),
             |d4 AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1)) v(dr,dc)),
             |pc AS (SELECT l.lab, l.r*60 + l.c AS inside,
             |         CASE WHEN d.dr=1 THEN (l.r+1)*61 + l.c
             |              WHEN d.dc=1 THEN l.r*61 + l.c + 1
             |              ELSE l.r*61 + l.c END AS ca,
             |         CASE WHEN d.dr=-1 THEN l.r*61 + l.c + 1
             |              WHEN d.dr=1  THEN (l.r+1)*61 + l.c + 1
             |              WHEN d.dc=-1 THEN (l.r+1)*61 + l.c
             |              ELSE (l.r+1)*61 + l.c + 1 END AS cb
             |       FROM z l CROSS JOIN d4 d
             |       LEFT JOIN z n ON n.r = l.r + d.dr AND n.c = l.c + d.dc
             |       WHERE n.lab IS NULL OR n.lab <> l.lab),
             |en AS (SELECT lab, inside, ca AS corner FROM pc
             |       UNION ALL SELECT lab, inside, cb FROM pc),
             |cs AS (SELECT lab, corner, count(*) AS n, min(inside) AS mi
             |       FROM en GROUP BY 1, 2),
             |ky AS (SELECT p.lab,
             |         p.lab*7442 + p.ca*2
             |           + (CASE WHEN a.n=4 AND p.inside<>a.mi THEN 1 ELSE 0 END) AS k1,
             |         p.lab*7442 + p.cb*2
             |           + (CASE WHEN b.n=4 AND p.inside<>b.mi THEN 1 ELSE 0 END) AS k2
             |       FROM pc p JOIN cs a ON a.lab=p.lab AND a.corner=p.ca
             |                 JOIN cs b ON b.lab=p.lab AND b.corner=p.cb),
             |ad AS (SELECT lab, k1 AS a, k2 AS b FROM ky
             |       UNION SELECT lab, k2, k1 FROM ky),
             |nbr AS (SELECT lab, a AS v, min(b) AS n1, max(b) AS n2
             |        FROM ad GROUP BY 1, 2),
             |reach AS (SELECT lab, a, a AS b FROM (SELECT DISTINCT lab, a FROM ad)
             |          UNION SELECT r.lab, r.a, ad.b
             |          FROM reach r JOIN ad ON r.lab = ad.lab AND r.b = ad.a),
             |rg AS (SELECT lab, a AS v, min(b) AS ring FROM reach GROUP BY 1, 2),
             |wk AS (SELECT r.lab, r.ring, 0 AS ord,
             |         CAST(NULL AS BIGINT) AS prev, r.ring AS cur
             |       FROM (SELECT DISTINCT lab, ring FROM rg) r
             |       UNION ALL
             |       SELECT w.lab, w.ring, w.ord + 1, w.cur,
             |         CASE WHEN w.prev IS NULL THEN n.n1
             |              WHEN n.n1 = w.prev THEN n.n2 ELSE n.n1 END
             |       FROM wk w JOIN nbr n ON n.lab = w.lab AND n.v = w.cur
             |       WHERE NOT (w.cur = w.ring AND w.ord > 0)),
             |vx AS (SELECT lab, ring, ord,
             |         ((cur % 7442) // 2) // 61 AS y,
             |         ((cur % 7442) // 2) % 61 AS x FROM wk),
             |rc AS (SELECT a.lab, a.ring, count(*) AS perimeter
             |       FROM vx a JOIN vx b ON b.lab = a.lab AND b.ring = a.ring
             |         AND b.ord = a.ord + 1
             |       GROUP BY 1, 2),
             |segs AS (SELECT a.lab, a.ring AS s, least(a.y, b.y) AS ey, a.x AS ex
             |         FROM vx a JOIN vx b ON b.lab = a.lab AND b.ring = a.ring
             |           AND b.ord = a.ord + 1
             |         WHERE b.x = a.x AND b.y <> a.y),
             |tp AS (SELECT lab, ring AS r, y AS ty, x AS tx FROM vx WHERE ord = 0),
             |cr AS (SELECT t.lab, t.r, s.s, count(*) AS n
             |       FROM tp t JOIN segs s ON s.lab = t.lab AND s.ey = t.ty
             |         AND s.ex > t.tx
             |       GROUP BY 1, 2, 3),
             |cont AS (SELECT lab, r, s FROM cr WHERE r <> s AND n % 2 = 1),
             |dep AS (SELECT t.lab, t.r, count(c.s) AS depth
             |        FROM tp t LEFT JOIN cont c ON c.lab = t.lab AND c.r = t.r
             |        GROUP BY 1, 2),
             |par AS (SELECT c.lab, c.r, arg_max(c.s, d2.depth) AS parent
             |        FROM cont c JOIN dep d2 ON d2.lab = c.lab AND d2.r = c.s
             |        GROUP BY 1, 2),
             |polys AS (SELECT lab, r AS shell FROM dep WHERE depth % 2 = 0),
             |holes AS (SELECT d.lab, p.parent AS shell, d.r AS hole
             |          FROM dep d JOIN par p ON p.lab = d.lab AND p.r = d.r
             |          WHERE d.depth % 2 = 1),
             |bnd AS (SELECT p.lab, p.shell,
             |          (SELECT rc.perimeter FROM rc
             |           WHERE rc.lab = p.lab AND rc.ring = p.shell)
             |          + coalesce((SELECT sum(rc2.perimeter) FROM holes h2
             |               JOIN rc rc2 ON rc2.lab = h2.lab AND rc2.ring = h2.hole
             |               WHERE h2.lab = p.lab AND h2.shell = p.shell), 0)
             |            AS blen,
             |          (SELECT count(*) FROM holes h3
             |           WHERE h3.lab = p.lab AND h3.shell = p.shell) AS nh
             |        FROM polys p),
             |cellnet AS (SELECT lab, 2 * count(*) AS net2 FROM z GROUP BY 1)
             |SELECT CAST(b.lab AS BIGINT) AS lab, count(*) AS n_polys,
             |  CAST(sum(b.nh) AS BIGINT) AS n_holes,
             |  CAST(min(cn.net2) AS BIGINT) AS net_area2_sum,
             |  CAST(sum(b.blen) AS BIGINT) AS boundary_sum
             |FROM bnd b JOIN cellnet cn ON cn.lab = b.lab
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- T34: ZIPF rank-octave census — the corpus-statistics read
    // behind vocabulary sizing and tokenizer budgets: how token mass
    // distributes across rank octaves [2^o, 2^(o+1)) of the global
    // frequency ranking. Computed WITHOUT sorting the vocabulary
    // globally: the per-octave COUNTS are tie-order-invariant, so the
    // engine works on the frequency-of-frequencies census (hundreds of
    // rows) — cumulative spans per distinct frequency, exploded over
    // the ≤ log₂(V) octaves each span straddles, overlap lengths in
    // exact integers (floor-log₂ via length(bin(k))−1, never float
    // log). The one window rides the CENSUS, not the vocab — the x33
    // global-row_number trap designed out rather than mitigated. The
    // oracle ranks directly (affordable at oracle scale) and must
    // agree because counts don't depend on tie order.
    Q("t34_zipf_octaves",
      (s, dir) => {
        import s.implicits._
        val tf = t(s, dir, "documents")
          .select(explode(split($"text", " ")).as("tok"))
          .filter(length($"tok") > 0)
          .groupBy($"tok").agg(count(lit(1)).as("f"))
        val fc = tf.groupBy($"f").agg(count(lit(1)).as("nt"))
        // census-sized window: one row per DISTINCT frequency value
        val w = Window.orderBy($"f".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        fc.withColumn("hi_cum", sum($"nt").over(w))
          .withColumn("lo_cum", $"hi_cum" - $"nt" + 1)
          .withColumn("o", explode(sequence(
            expr("length(bin(lo_cum)) - 1"), expr("length(bin(hi_cum)) - 1"))))
          .withColumn("olo",
            expr("greatest(shiftleft(cast(1 as bigint), o), lo_cum)"))
          .withColumn("ohi",
            expr("least(shiftleft(cast(1 as bigint), o + 1) - 1, hi_cum)"))
          .groupBy($"o".as("octave"))
          .agg(sum($"ohi" - $"olo" + 1).as("n_terms"),
            sum(($"ohi" - $"olo" + 1) * $"f").as("occurrences"))
          .orderBy($"octave")
      },
      Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |tf AS (SELECT tok, count(*) AS f FROM toks
             |  WHERE length(tok) > 0 GROUP BY 1),
             |r AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rk
             |  FROM tf),
             |o AS (SELECT CAST(length(bin(rk)) - 1 AS INT) AS octave, f FROM r)
             |SELECT octave, count(*) AS n_terms,
             |  CAST(sum(f) AS BIGINT) AS occurrences
             |FROM o GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  private val qs: Seq[Q] =
    relational ++ textDedup ++ vector ++ vectorLsh ++ sessionizeIvf ++ streamingMultimodalRaster ++ xyzTile ++ geotiff ++ roundTwo ++ roundTwoB ++ roundThree ++ roundFour ++ roundFive ++ roundSix ++ roundSeven ++ roundEight ++ roundNine ++ roundTen ++ roundTenC ++ roundEleven ++ roundTwelve ++ roundThirteen ++ roundFourteen ++ roundFifteen ++ roundFifteenB

  def all: Map[String, (SparkSession, String) => DataFrame] =
    qs.map(q => q.name -> q.fn).toMap
  def oracles: Map[String, String] =
    qs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
