package graft

/** DuckDB oracle SQL for every SQL-expressible query in [[Queries]].
  * Conventions (must mirror Queries.scala exactly — see its header):
  *  - identical regex literals (RE2-compatible subset);
  *  - DOUBLE accumulation + round(x, n) at the same places;
  *  - CASTs so result column types match Spark's (Spark sum(int) is
  *    BIGINT but DuckDB's is HUGEINT; Spark length/size are INTEGER
  *    but DuckDB's are BIGINT; row_number is INTEGER vs BIGINT);
  *  - regexp_replace needs the 'g' flag in DuckDB (Spark replaces all
  *    matches by default);
  *  - event-time values only ever emitted via date_trunc/strftime.
  */
object Oracles {

  /** Token regex — keep identical to [[graft.text.Tok.pattern]]. */
  private val RE = graft.text.Tok.oracleRegex

  /** Explicit whitespace class body ([[graft.text.Tok.Ws]]) — RE2's
    * `\s` excludes VT while Java's includes it; both engines run
    * the same spelled-out set. */
  private val WS = graft.text.Tok.Ws

  /** Shared CTE: fixed chunker (C1) — 400-char windows, stride 350. */
  private val chunkCte =
    s"""WITH c AS (
       |  SELECT doc_id, source, text, CAST(n_chars AS INTEGER) AS n,
       |         CAST(unnest(generate_series(0, CAST(n_chars AS INTEGER) - 1, 350)) AS INTEGER) AS s
       |  FROM documents WHERE n_chars > 0
       |), ch AS (
       |  SELECT doc_id, source, CAST(s // 350 AS INTEGER) AS chunk_index,
       |         substr(text, s + 1, 400) AS text,
       |         s AS start, CAST(least(s + 400, n) AS INTEGER) AS "end",
       |         CAST(length(substr(text, s + 1, 400)) AS INTEGER) AS char_length,
       |         CAST(len(regexp_extract_all(substr(text, s + 1, 400), '$RE')) AS INTEGER) AS token_length
       |  FROM c
       |)""".stripMargin

  /** Messy-URL CASE chain on long column `key` — keep identical to
    * the synthesis in `Queries.messyUrl`. */
  private def messyUrlSql(key: String): String =
    s"""CASE $key % 7
       |      WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/docs/g'
       |        || CAST($key // 7 AS VARCHAR) || '?utm_source=feed&b=2&a=1#sec'
       |      WHEN 1 THEN 'https://www.example.com/docs/g'
       |        || CAST($key // 7 AS VARCHAR) || '?a=1&b=2'
       |      WHEN 2 THEN 'http://Host' || CAST(($key // 7) % 7 AS VARCHAR)
       |        || '.example.org:80/p/g' || CAST($key // 7 AS VARCHAR) || '/'
       |      WHEN 3 THEN 'http://host' || CAST(($key // 7) % 7 AS VARCHAR)
       |        || '.example.org/p/g' || CAST($key // 7 AS VARCHAR)
       |      WHEN 4 THEN 'https://cdn.example.net/a' || CAST($key // 7 AS VARCHAR)
       |        || '?gclid=x&utm_campaign=z'
       |      WHEN 5 THEN '/docs/rel/g' || CAST($key // 7 AS VARCHAR) || '?x=1'
       |      ELSE 'https://cdn.example.net/b' || CAST($key // 7 AS VARCHAR)
       |        || '?fbclid&utm_&x=1'
       |    END"""

  /** URL-canonicalization CTE chain from `u($idCols, url)` to
    * `s5($idCols, url, canon)` — identical regex literals + list ops
    * to [[graft.rel.Urls.canonical]].
    *
    * NOTE both helpers return MARGIN-PIPED text (no stripMargin):
    * the caller's template strips margins once after interpolation —
    * pre-stripped lines beginning with the SQL `||` operator would
    * otherwise lose a pipe to the outer stripMargin. */
  private def urlCanonChainSql(idCols: String): String =
    s"""s1 AS (SELECT $idCols, url,
       |         regexp_replace(url, '#.*$$', '') AS nofrag FROM u),
       |s2 AS (SELECT *,
       |         lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |         lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
       |         regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
       |       FROM s1),
       |s3 AS (SELECT *,
       |         CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
       |              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
       |              ELSE hostport END AS host,
       |         regexp_extract(rest, '^([^?]*)', 1) AS path,
       |         CASE WHEN contains(rest, '?')
       |              THEN regexp_replace(rest, '^[^?]*\\?', '')
       |              ELSE '' END AS query
       |       FROM s2),
       |s4 AS (SELECT *,
       |         list_sort(list_filter(string_split(query, '&'),
       |           p -> NOT (regexp_matches(p, '^(utm_[A-Za-z0-9_]*|fbclid|gclid)(=|$$)')
       |                     OR p = ''))) AS kept
       |       FROM s3),
       |s5 AS (SELECT $idCols, url,
       |         CASE WHEN scheme = '' THEN url ELSE
       |         scheme || '://' || host ||
       |         (CASE WHEN regexp_matches(path, '^/.+/$$')
       |               THEN regexp_replace(path, '/$$', '') ELSE path END) ||
       |         (CASE WHEN array_to_string(kept, '&') <> ''
       |               THEN '?' || array_to_string(kept, '&') ELSE '' END)
       |         END AS canon
       |       FROM s4)"""

  /** Shared CTE prefix: the deterministic synthetic link table
    * (keep identical to [[graft.rel.LinkGraph.syntheticEdges]]). */
  private val linkCte =
    """nn AS (SELECT count(*) AS n_docs FROM documents),
      |ids AS (SELECT doc_id FROM documents),
      |e0 AS (
      |  SELECT doc_id AS src, (doc_id * 131 + 37 * k) % n_docs AS dst
      |  FROM ids, nn, (SELECT unnest(generate_series(1, 3)) AS k)
      |),
      |edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst)""".stripMargin

  /** Shared CTE chain: 3-round integer PageRank over `edges`/`ids`
    * (follows [[linkCte]]) — each round the identical
    * truncating-division damped walk (`//` here, `div` in Spark —
    * positive longs, bit-identical), exact long sums, unnormalized
    * 150000-microunit teleport. Ends with `deg` and `r3`. */
  private val pagerankCtes =
    """deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |ed AS (SELECT e.src, e.dst, d.outdeg
      |       FROM edges e JOIN deg d USING (src)),
      |r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM ids),
      |c1 AS (SELECT ed.dst,
      |         CAST(SUM((85 * r.pr) // (100 * ed.outdeg)) AS BIGINT) AS in_mass
      |       FROM ed JOIN r0 r ON r.doc_id = ed.src GROUP BY ed.dst),
      |r1 AS (SELECT i.doc_id, 150000 + COALESCE(c.in_mass, 0) AS pr
      |       FROM ids i LEFT JOIN c1 c ON c.dst = i.doc_id),
      |c2 AS (SELECT ed.dst,
      |         CAST(SUM((85 * r.pr) // (100 * ed.outdeg)) AS BIGINT) AS in_mass
      |       FROM ed JOIN r1 r ON r.doc_id = ed.src GROUP BY ed.dst),
      |r2 AS (SELECT i.doc_id, 150000 + COALESCE(c.in_mass, 0) AS pr
      |       FROM ids i LEFT JOIN c2 c ON c.dst = i.doc_id),
      |c3 AS (SELECT ed.dst,
      |         CAST(SUM((85 * r.pr) // (100 * ed.outdeg)) AS BIGINT) AS in_mass
      |       FROM ed JOIN r2 r ON r.doc_id = ed.src GROUP BY ed.dst),
      |r3 AS (SELECT i.doc_id, 150000 + COALESCE(c.in_mass, 0) AS pr
      |       FROM ids i LEFT JOIN c3 c ON c.dst = i.doc_id)""".stripMargin

  /** Corpus-wide semantic-chunker replay (engine pipeline op for op:
    * `block`-word min-split → `dim`-bucket md5 integer-count
    * embeddings → adjacent cosine distances (exact-integer dot/norm²)
    * → one-pass 4096-bin histogram threshold with break target
    * `totalToks // avg − nDocs` → lag-break → running-sum segments →
    * min/max merge + re-slice). Valid whenever every fixture word is
    * a single regex token joined by single spaces — then the engine's
    * RecursiveChunker min-split at budget `block` is exactly
    * `block`-word blocks (verified corpus-wide since r7). Shared by
    * the lattice corpus twin (10/8/25) and, since r8, the PRODUCTION
    * row (50/64/300) — the chunker now derives distances from the
    * pre-normalization counts twin, so both rows are the same SQL at
    * different parameters. */
  private def semanticCorpusSql(block: Int, dim: Int, avg: Int): String =
    s"""WITH d AS (
       |  SELECT doc_id, source, text FROM documents
       |), wlist AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM d
       |), w AS (
       |  SELECT doc_id, wi, ws[wi] AS word, len(ws) AS nw,
       |         CAST((wi - 1) // $block AS INTEGER) AS pi
       |  FROM (SELECT doc_id, ws,
       |          CAST(unnest(generate_series(1, len(ws))) AS INTEGER) AS wi
       |        FROM wlist)
       |), wo AS (
       |  SELECT doc_id, wi, word, nw, pi,
       |         CAST(coalesce(sum(length(word) + 1) OVER (PARTITION BY doc_id
       |           ORDER BY wi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS INTEGER) AS wstart,
       |         CAST(coalesce(sum(length(word) + 1) OVER (PARTITION BY doc_id
       |           ORDER BY wi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           + length(word) + CASE WHEN wi < nw THEN 1 ELSE 0 END
       |           AS INTEGER) AS wend
       |  FROM w
       |), pieces AS (
       |  SELECT doc_id, pi, min(wstart) AS pstart, max(wend) AS pend,
       |         CAST(count(*) AS INTEGER) AS toks,
       |         max(pi) OVER (PARTITION BY doc_id) AS maxpi
       |  FROM wo GROUP BY doc_id, pi
       |), cnt AS (
       |  SELECT doc_id, pi,
       |         CAST(CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) % $dim AS INTEGER) AS bucket,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM w GROUP BY 1, 2, 3
       |), n2 AS (
       |  SELECT doc_id, pi, CAST(sum(c * c) AS BIGINT) AS nn FROM cnt GROUP BY 1, 2
       |), dt AS (
       |  SELECT a.doc_id, a.pi, CAST(sum(a.c * b.c) AS BIGINT) AS dot
       |  FROM cnt a JOIN cnt b ON b.doc_id = a.doc_id AND b.pi = a.pi + 1
       |    AND b.bucket = a.bucket
       |  GROUP BY 1, 2
       |), dists AS (
       |  SELECT p.doc_id, p.pi, p.pstart, p.pend, p.toks,
       |         CASE WHEN p.pi < p.maxpi THEN
       |           1.0 - coalesce(dt.dot, 0) / (sqrt(na.nn) * sqrt(nb.nn))
       |         END AS dist
       |  FROM pieces p
       |  LEFT JOIN dt ON dt.doc_id = p.doc_id AND dt.pi = p.pi
       |  JOIN n2 na ON na.doc_id = p.doc_id AND na.pi = p.pi
       |  LEFT JOIN n2 nb ON nb.doc_id = p.doc_id AND nb.pi = p.pi + 1
       |), tgt AS (
       |  SELECT greatest(0, (SELECT sum(toks) FROM dists) // $avg
       |                  - (SELECT count(*) FROM dists WHERE dist IS NULL)) AS target
       |), thr AS (
       |  SELECT min(ts.t) * (2.0 / 4096) AS threshold
       |  FROM (SELECT unnest(generate_series(0, 4096)) AS t) ts
       |  WHERE (SELECT count(*) FROM dists
       |         WHERE dist IS NOT NULL
       |           AND CAST(greatest(least(floor(dist / (2.0 / 4096)), 4095), 0) AS INTEGER) >= ts.t)
       |        <= (SELECT target FROM tgt)
       |), brk AS (
       |  SELECT doc_id, pi, pstart, pend,
       |         CASE WHEN lag(dist) OVER (PARTITION BY doc_id ORDER BY pi)
       |                > (SELECT threshold FROM thr)
       |              THEN 1 ELSE 0 END AS b
       |  FROM dists
       |), seg AS (
       |  SELECT doc_id, pi, pstart, pend,
       |         sum(b) OVER (PARTITION BY doc_id ORDER BY pi
       |           ROWS UNBOUNDED PRECEDING) AS segment
       |  FROM brk
       |), m AS (
       |  SELECT doc_id, segment, min(pstart) AS mstart, max(pend) AS mend
       |  FROM seg GROUP BY 1, 2
       |)
       |SELECT m.doc_id, d.source, CAST(m.segment AS INTEGER) AS chunk_index,
       |       substr(d.text, m.mstart + 1, m.mend - m.mstart) AS text,
       |       m.mstart AS start, m.mend AS "end",
       |       CAST(length(substr(d.text, m.mstart + 1, m.mend - m.mstart)) AS INTEGER) AS char_length,
       |       CAST(len(regexp_extract_all(
       |         substr(d.text, m.mstart + 1, m.mend - m.mstart), '$RE')) AS INTEGER) AS token_length,
       |       'semantic' AS strategy
       |FROM m JOIN d ON d.doc_id = m.doc_id
       |ORDER BY m.doc_id, chunk_index""".stripMargin

  /** Shared CTE: token 3-gram distinct shingles per doc. */
  private def shingleCte(filter: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(text, '$RE') AS toks
       |  FROM documents $filter
       |), tf AS (
       |  SELECT doc_id, toks FROM t WHERE len(toks) > 0
       |), sh AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 3
       |              THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |                     i -> array_to_string(toks[i:i+2], ' ')))
       |              ELSE [array_to_string(toks, ' ')] END AS shingles
       |  FROM tf
       |)""".stripMargin

  /** Shared CTE chain: minhash signatures → banded candidate pairs
    * (`cand`: doc_a < doc_b) — q_minhash_candidates' body, reused by
    * the clustering oracle. */
  private val minhashCandCte =
    s"""${shingleCte("")}
       |, sig AS (
       |  SELECT doc_id, list_transform(generate_series(0, 7),
       |           s -> list_min(list_transform(shingles,
       |                  x -> md5(CAST(s AS VARCHAR) || '|' || x)))) AS sg
       |  FROM sh
       |), band AS (
       |  SELECT doc_id, 0 AS b, sg[1] || sg[2] AS band_key FROM sig
       |  UNION ALL SELECT doc_id, 1, sg[3] || sg[4] FROM sig
       |  UNION ALL SELECT doc_id, 2, sg[5] || sg[6] FROM sig
       |  UNION ALL SELECT doc_id, 3, sg[7] || sg[8] FROM sig
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM band a JOIN band b2 ON a.b = b2.b AND a.band_key = b2.band_key
       |  WHERE a.doc_id < b2.doc_id
       |)""".stripMargin

  /** Shared CTE chain: BM25 postings → scored → ranked (k1 = 1.2,
    * b = 0.75; literal arithmetic kept in the exact shape of
    * [[graft.text.Bm25.topK]]'s Column tree so both engines evaluate
    * the same double expression). Ends with `ranked`; also defines
    * `q` (the literal query set shared with the Jaccard/RRF side). */
  private val bm25RankedCte =
    s"""WITH p0 AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$RE')) AS term
       |  FROM documents
       |), postings AS (
       |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM p0 GROUP BY 1, 2
       |), dl AS (
       |  SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY 1
       |), stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
       |), dfreq AS (
       |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM postings GROUP BY 1
       |), q AS (
       |  SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'join hash window stream'),
       |                        (CAST(1 AS BIGINT), 'sort merge filter vector'),
       |                        (CAST(2 AS BIGINT), 'spark query scan batch'))
       |    AS v(query_id, qtext)
       |), qt AS (
       |  SELECT DISTINCT query_id, term FROM (
       |    SELECT query_id, unnest(regexp_extract_all(lower(qtext), '$RE')) AS term FROM q)
       |), scored AS (
       |  SELECT qt.query_id, p.doc_id,
       |         round(sum(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5)) *
       |           (p.tf * (1.2 + 1.0) /
       |            (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)))), 6) AS score
       |  FROM postings p
       |  JOIN qt ON p.term = qt.term
       |  JOIN dfreq f ON f.term = p.term
       |  JOIN dl d ON d.doc_id = p.doc_id
       |  CROSS JOIN stats s
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY score DESC, doc_id) AS INTEGER) AS rank, doc_id, score
       |  FROM scored
       |)""".stripMargin

  /** Shared CTE chain: sign-LSH band keys (mirrors
    * [[graft.vector.Ann.signLshKeys]] bit for bit): plane weight =
    * first 8 md5 hex chars of "p|j" as unsigned int, mapped to
    * [−1, 1) (division by 2³¹ is exact in both engines); dot products
    * sum left-to-right over ascending dims exactly like the Scala
    * while-loop (DuckDB's `list_sum` is an ordered fold — verified
    * order-sensitive on (1e16, 1, −1e16)); bit i of band b comes from
    * plane p = 8b + i. `filter` narrows the vector set. */
  private def signLshKeysCte(filter: String): String =
    s"""WITH emb AS (
       |  SELECT vec_id, embedding FROM embeddings $filter
       |), pw AS (
       |  SELECT p, list(w ORDER BY j) AS w FROM (
       |    SELECT ps.p, js.j,
       |           CAST('0x' || substr(md5(CAST(ps.p AS VARCHAR) || '|' ||
       |                 CAST(js.j AS VARCHAR)), 1, 8) AS BIGINT)
       |             / 2147483648.0 - 1.0 AS w
       |    FROM (SELECT unnest(generate_series(0, 63)) AS p) ps
       |    CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) js
       |  ) GROUP BY p
       |), dots AS (
       |  SELECT e.vec_id, pw.p,
       |         list_sum(list_transform(generate_series(1, len(e.embedding)),
       |           i -> pw.w[i] * CAST(e.embedding[i] AS DOUBLE))) AS d
       |  FROM emb e CROSS JOIN pw
       |), keys AS (
       |  SELECT vec_id, CAST(p // 8 AS INTEGER) AS band,
       |         CAST(sum(CASE WHEN d > 0 THEN (1 << (p % 8)) ELSE 0 END) AS INTEGER) AS "key"
       |  FROM dots GROUP BY vec_id, p // 8
       |)""".stripMargin

  /** Shared CTE chain: BRP-LSH floor-bucket keys (mirrors
    * [[graft.vector.Ann.brpKeys]] op for op): raw cube weights from
    * md5("b<t>|<j>") mapped to [−1, 1), each table's direction
    * L2-normalized (ordered sum of squares → sqrt → per-component
    * division), vector projected onto it with an ordered fold, then
    * `floor(dot / nrm / (0.4 / sqrt(dim)))` — every step an
    * identically-rounded IEEE op, so keys can never disagree with the
    * Scala while-loop's. 4 tables, dim 64 (the fixture embeddings). */
  private def brpKeysCte(filter: String): String =
    s"""WITH emb AS (
       |  SELECT vec_id, embedding FROM embeddings $filter
       |), praw AS (
       |  SELECT ts.t, js.j,
       |         CAST('0x' || substr(md5('b' || CAST(ts.t AS VARCHAR) || '|' ||
       |               CAST(js.j AS VARCHAR)), 1, 8) AS BIGINT)
       |           / 2147483648.0 - 1.0 AS w
       |  FROM (SELECT unnest(generate_series(0, 3)) AS t) ts
       |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) js
       |), pn AS (
       |  SELECT t, list(w ORDER BY j) AS ws FROM praw GROUP BY t
       |), pw AS (
       |  SELECT t, list_transform(ws,
       |           x -> x / sqrt(list_sum(list_transform(ws, y -> y * y)))) AS w
       |  FROM pn
       |), vn AS (
       |  SELECT vec_id, embedding,
       |         sqrt(list_sum(list_transform(embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM emb
       |), keys AS (
       |  SELECT v.vec_id, CAST(pw.t AS INTEGER) AS "table",
       |         CASE WHEN v.nrm > 0 THEN CAST(floor(
       |             list_sum(list_transform(generate_series(1, len(v.embedding)),
       |               i -> pw.w[i] * CAST(v.embedding[i] AS DOUBLE)))
       |             / v.nrm / (0.4 / sqrt(64.0))) AS INTEGER)
       |           ELSE 0 END AS "key"
       |  FROM vn v CROSS JOIN pw
       |)""".stripMargin

  /** Shared CTE chain for the ExactSubstr family: token arrays →
    * positioned 10-gram md5s → corpus-duplicated positions →
    * per-doc gaps-and-islands → maximal spans (`sp`, with `tk`/`tkf`
    * still in scope). */
  private def substrSpansCte: String =
    s"""WITH tk AS (
       |  SELECT doc_id, regexp_extract_all(text, '$RE') AS ts FROM documents
       |), tkf AS (
       |  SELECT doc_id, ts FROM tk WHERE len(ts) >= 10
       |), g AS (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
       |         md5(array_to_string(ts[i:i+9], ' ')) AS gh
       |  FROM tkf, LATERAL (SELECT unnest(generate_series(1, len(ts) - 9)) AS i) u
       |), dup AS (
       |  SELECT gh FROM g GROUP BY gh HAVING count(*) > 1
       |), cand AS (
       |  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)
       |), br AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
       |              THEN 0 ELSE 1 END AS b
       |  FROM cand
       |), isl AS (
       |  SELECT doc_id, pos,
       |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS UNBOUNDED PRECEDING) AS island
       |  FROM br
       |), sp AS (
       |  SELECT doc_id, min(pos) AS tok_start,
       |         CAST(max(pos) - min(pos) + 10 AS INTEGER) AS tok_len
       |  FROM isl GROUP BY doc_id, island
       |)""".stripMargin

  /** IVF replay on the crafted three-cluster fixture (shared by
    * q_topk_ivf_crafted AND q_topk_ivf_indexed — the saved-index
    * serve reads back bit-identical floats and shares the engine's
    * probe/scoring Column trees, so one SQL checks both rows). The
    * 3-way nearest-cell CASE mirrors Ivf.nearest's first-index-wins
    * tie rule (distances are well-separated by construction, so ties
    * never actually fire). */
  private lazy val ivfCraftedSql: String = {
    val cv = Queries.ivfCraftedCorpus.map { case (id, v) =>
      s"(CAST($id AS BIGINT), " +
        v.map(x => s"CAST(${x.toDouble} AS DOUBLE)").mkString(", ") + ")"
    }.mkString(", ")
    val qv = Queries.ivfCraftedQueries.map { case (id, v) =>
      s"(CAST($id AS BIGINT), " +
        v.map(x => s"CAST(${x.toDouble} AS DOUBLE)").mkString(", ") + ")"
    }.mkString(", ")
    s"""WITH corpus(vec_id, e1, e2, e3, e4) AS (
       |  VALUES $cv
       |), qs(query_id, q1, q2, q3, q4) AS (
       |  VALUES $qv
       |), nv AS (
       |  SELECT vec_id, e1 / nrm AS n1, e2 / nrm AS n2, e3 / nrm AS n3, e4 / nrm AS n4
       |  FROM (SELECT *, sqrt(e1*e1 + e2*e2 + e3*e3 + e4*e4) AS nrm FROM corpus)
       |), init0 AS (SELECT n1, n2, n3, n4 FROM nv WHERE vec_id = 0
       |), init1 AS (SELECT n1, n2, n3, n4 FROM nv WHERE vec_id = 4
       |), init2 AS (SELECT n1, n2, n3, n4 FROM nv WHERE vec_id = 8
       |), d0s AS (
       |  SELECT v.vec_id,
       |         (v.n1-c0.n1)*(v.n1-c0.n1) + (v.n2-c0.n2)*(v.n2-c0.n2)
       |           + (v.n3-c0.n3)*(v.n3-c0.n3) + (v.n4-c0.n4)*(v.n4-c0.n4) AS d0,
       |         (v.n1-c1.n1)*(v.n1-c1.n1) + (v.n2-c1.n2)*(v.n2-c1.n2)
       |           + (v.n3-c1.n3)*(v.n3-c1.n3) + (v.n4-c1.n4)*(v.n4-c1.n4) AS d1,
       |         (v.n1-c2.n1)*(v.n1-c2.n1) + (v.n2-c2.n2)*(v.n2-c2.n2)
       |           + (v.n3-c2.n3)*(v.n3-c2.n3) + (v.n4-c2.n4)*(v.n4-c2.n4) AS d2
       |  FROM nv v CROSS JOIN init0 c0 CROSS JOIN init1 c1 CROSS JOIN init2 c2
       |), a0 AS (
       |  SELECT vec_id, CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0
       |                      WHEN d1 <= d2 THEN 1 ELSE 2 END AS cell
       |  FROM d0s
       |), cents AS (
       |  SELECT a0.cell,
       |         avg(v.n1) AS c1, avg(v.n2) AS c2, avg(v.n3) AS c3, avg(v.n4) AS c4,
       |         CAST(CAST(avg(v.n1) AS FLOAT) AS DOUBLE) AS g1,
       |         CAST(CAST(avg(v.n2) AS FLOAT) AS DOUBLE) AS g2,
       |         CAST(CAST(avg(v.n3) AS FLOAT) AS DOUBLE) AS g3,
       |         CAST(CAST(avg(v.n4) AS FLOAT) AS DOUBLE) AS g4
       |  FROM a0 JOIN nv v USING (vec_id) GROUP BY a0.cell
       |), ds AS (
       |  SELECT v.vec_id,
       |         (v.n1-k0.c1)*(v.n1-k0.c1) + (v.n2-k0.c2)*(v.n2-k0.c2)
       |           + (v.n3-k0.c3)*(v.n3-k0.c3) + (v.n4-k0.c4)*(v.n4-k0.c4) AS d0,
       |         (v.n1-k1.c1)*(v.n1-k1.c1) + (v.n2-k1.c2)*(v.n2-k1.c2)
       |           + (v.n3-k1.c3)*(v.n3-k1.c3) + (v.n4-k1.c4)*(v.n4-k1.c4) AS d1,
       |         (v.n1-k2.c1)*(v.n1-k2.c1) + (v.n2-k2.c2)*(v.n2-k2.c2)
       |           + (v.n3-k2.c3)*(v.n3-k2.c3) + (v.n4-k2.c4)*(v.n4-k2.c4) AS d2
       |  FROM nv v
       |  CROSS JOIN (SELECT * FROM cents WHERE cell = 0) k0
       |  CROSS JOIN (SELECT * FROM cents WHERE cell = 1) k1
       |  CROSS JOIN (SELECT * FROM cents WHERE cell = 2) k2
       |), assign AS (
       |  SELECT vec_id, CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0
       |                      WHEN d1 <= d2 THEN 1 ELSE 2 END AS cell
       |  FROM ds
       |), probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cell,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             (q.q1*c.g1 + q.q2*c.g2 + q.q3*c.g3 + q.q4*c.g4) /
       |             (sqrt(q.q1*q.q1 + q.q2*q.q2 + q.q3*q.q3 + q.q4*q.q4) *
       |              sqrt(c.g1*c.g1 + c.g2*c.g2 + c.g3*c.g3 + c.g4*c.g4)) DESC,
       |             c.cell) AS crank
       |    FROM qs q CROSS JOIN cents c
       |  ) WHERE crank <= 1
       |), scored AS (
       |  SELECT p.query_id, a.vec_id,
       |         round((v.e1*q.q1 + v.e2*q.q2 + v.e3*q.q3 + v.e4*q.q4) /
       |               (sqrt(v.e1*v.e1 + v.e2*v.e2 + v.e3*v.e3 + v.e4*v.e4) *
       |                sqrt(q.q1*q.q1 + q.q2*q.q2 + q.q3*q.q3 + q.q4*q.q4)), 6) AS cos_sim
       |  FROM probe p
       |  JOIN assign a USING (cell)
       |  JOIN corpus v ON v.vec_id = a.vec_id
       |  JOIN qs q ON q.query_id = p.query_id
       |)
       |SELECT query_id, rank, vec_id, cos_sim FROM (
       |  SELECT query_id, vec_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored
       |) WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** PQ geometry shared by the oracle and [[Queries.q_topk_pq]]:
    * pqM subspaces × pqSub dims over the 64-dim embeddings, pqK
    * codes per subspace, 2 exact-integer update rounds. */
  private val pqM = Queries.pqM
  private val pqSub = 64 / pqM
  private val pqK = Queries.pqK

  /** Shared int8-lattice CTEs: `emb` (the raw table) and `qvt`
    * (each vector with its quantized lattice `qv`). Every
    * bounded-fit ANN oracle (IVF, PQ, IVF+PQ) replays from these.
    *
    * Every multi-referenced CTE in the ANN fit/serve chain is
    * declared `AS MATERIALIZED`: DuckDB (1.0) otherwise INLINES each
    * reference, re-executing the upstream chain once per consumer —
    * combinatorial with nesting depth. The residual IVFPQ recall row
    * (codebook trained on residuals of the coarse chain) was the
    * deepest stack and blew past 600 s / multi-GiB peak with inlined
    * CTEs vs 1.0 s / <0.6 GiB materialized (measured r18,
    * tools/oracle_mem.py) — the DuckDB-OOM kill vector behind the
    * r15/r17 empty CORRECTNESS files. Results are hash-identical
    * (materialization is an evaluation hint, not a semantic change). */
  private lazy val qvtCte: String =
    s"""qvt AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |         CASE WHEN m = 0 THEN list_transform(embedding, x -> 0)
       |              ELSE list_transform(embedding,
       |                x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / m) + 0.5) AS INTEGER))
       |         END AS qv
       |  FROM (SELECT vec_id, embedding,
       |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
       |        FROM emb)
       |)""".stripMargin

  private lazy val latticeCte: String =
    s"""emb AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |), $qvtCte""".stripMargin

  /** [[latticeCte]] over Queries.semDedupCorpus's augmentation: the
    * base table plus, for vec_id < 40, a twin (vec_id + 100000) with
    * dimension 1 halved — double-multiply by 0.5 then cast to FLOAT,
    * both IEEE-exact, so the twin embeddings match Spark's bit for
    * bit and the shared quantize/k-means replay applies unchanged. */
  private lazy val semLatticeCte: String =
    s"""emb AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id,
       |         list_transform(generate_series(1, 64), i ->
       |           CASE WHEN i = 1
       |                THEN CAST(CAST(embedding[1] AS DOUBLE) * 0.5 AS FLOAT)
       |                ELSE embedding[i] END) AS embedding
       |  FROM embeddings WHERE vec_id < 40
       |), $qvtCte""".stripMargin

  /** SemDeDup replay over a given coarse-fit chain: planted-twin
    * lattice ([[semLatticeCte]]), the bounded k-means chain (c0..a3
    * — unused serve CTEs are never evaluated), the exact integer
    * ε²=361/400 threshold on intra-cell pairs, recursive min-label
    * closure, smallest-id keeper. Every arithmetic step is integer.
    * Parameterized over the coarse CTE so the fixed-8-cell row
    * (q_semdedup) and the √n scale-geometry row (q_semdedup_scaled)
    * share one replay verbatim. */
  private def semDedupSqlOver(coarseCte: String): String =
    s"""WITH RECURSIVE $semLatticeCte
       |, $coarseCte
       |, nrm AS (
       |  SELECT vec_id,
       |         CAST(list_sum(list_transform(qv,
       |           x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS nn
       |  FROM qvt
       |), sp AS (
       |  SELECT a, b FROM (
       |    SELECT x.vec_id AS a, y.vec_id AS b, nx.nn AS na, ny.nn AS nb,
       |           CAST(list_sum(list_transform(generate_series(1, 64),
       |             i -> CAST(vx.qv[i] AS BIGINT) * vy.qv[i])) AS BIGINT) AS dot
       |    FROM a3 x JOIN a3 y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |    JOIN qvt vx ON vx.vec_id = x.vec_id
       |    JOIN qvt vy ON vy.vec_id = y.vec_id
       |    JOIN nrm nx ON nx.vec_id = x.vec_id
       |    JOIN nrm ny ON ny.vec_id = y.vec_id)
       |  WHERE dot > 0 AND 400 * dot * dot >= 361 * na * nb
       |), e AS (
       |  SELECT a, b FROM sp UNION SELECT b, a FROM sp
       |), reach AS (
       |  SELECT a AS node, a AS x FROM (SELECT DISTINCT a FROM e)
       |  UNION
       |  SELECT r.node, e.b FROM reach r JOIN e ON e.a = r.x
       |), comp AS (
       |  SELECT node, min(x) AS cluster_id FROM reach GROUP BY node
       |), labeled AS (
       |  SELECT q.vec_id, s.cell,
       |         coalesce(c.cluster_id, q.vec_id) AS cluster_id
       |  FROM qvt q JOIN a3 s ON s.vec_id = q.vec_id
       |  LEFT JOIN comp c ON c.node = q.vec_id
       |)
       |SELECT vec_id, cell, cluster_id,
       |       CAST(count(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS cluster_size,
       |       CAST(CASE WHEN vec_id = cluster_id THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM labeled
       |ORDER BY vec_id""".stripMargin

  /** IVF coarse chain (mirrors Ivf.boundedIndex + Ivf.probe): seed
    * centroids `c0`, two unrolled exact-integer update rounds, final
    * assignment `a3`, float-cast centroids `gc`, raw queries `qs`,
    * and the cosine `probe` (top-2 cells per query). Shared verbatim
    * by q_topk_ivf and the IVF+PQ composition. */
  private lazy val ivfCoarseCte: String = ivfCoarseCteN(3)

  /** [[ivfCoarseCte]] with a parameterized query set (`vec_id < nQ`)
    * — the recall rows judge [[graft.Queries.RecallQueryCount]]
    * queries over the SAME fit/probe chain the 3-query serve rows
    * hash-check. `seedSql` is the cell-count expression the seed CTE
    * compares vec_id against — a literal for the fixed-geometry rows,
    * a scalar subquery (corpus-proportional) for q_semdedup_scaled;
    * the assign/update rounds are cell-count-agnostic. `nProbe` is
    * the probe depth (2 for every catalog serve row); `keepRank`
    * additionally emits the probe rank `crank` so the probe-curve
    * row can score ONE widest-depth chain and slice it per depth.
    * `dim` is the vector width (64 for the embeddings table, 8 for
    * the cross-modal clip fixture) and `qsSql` optionally replaces
    * the query CTE body (default: the corpus's own first nQ vectors;
    * the cross-modal row substitutes the parsed CAPTION vectors). */
  private def ivfCoarseCteN(nQ: Int, seedSql: String = "8",
      nProbe: Int = 2, keepRank: Boolean = false, dim: Int = 64,
      qsSql: Option[String] = None): String = {
    // one assignment CTE per round: argmin over the given centroid
    // CTE by (ordered-fold distance, cell)
    def assignCte(name: String, centCte: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             list_sum(list_transform(generate_series(1, $dim),
         |               i -> (CAST(v.qv[i] AS DOUBLE) - c.cent[i])
         |                  * (CAST(v.qv[i] AS DOUBLE) - c.cent[i]))), c.cell) AS rn
         |    FROM qvt v CROSS JOIN $centCte c)
         |  WHERE rn = 1
         |)""".stripMargin
    // one update CTE pair per round: per-(cell, dim) exact integer
    // sums -> double centroid; empty cells carry the previous one
    def updateCte(sName: String, cName: String, aName: String, prev: String) =
      s"""$sName AS MATERIALIZED (
         |  SELECT a.cell, js.j, sum(v.qv[js.j]) AS sq, count(*) AS cnt
         |  FROM $aName a JOIN qvt v USING (vec_id)
         |  CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS j) js
         |  GROUP BY 1, 2
         |), $cName AS MATERIALIZED (
         |  SELECT cell, list(CAST(sq AS DOUBLE) / cnt ORDER BY j) AS cent
         |  FROM $sName GROUP BY cell
         |  UNION ALL
         |  SELECT p.cell, p.cent FROM $prev p
         |  WHERE p.cell NOT IN (SELECT DISTINCT cell FROM $sName)
         |)""".stripMargin
    s"""c0 AS MATERIALIZED (
       |  SELECT CAST(vec_id AS INTEGER) AS cell,
       |         list_transform(qv, x -> CAST(x AS DOUBLE)) AS cent
       |  FROM qvt WHERE vec_id < ($seedSql)
       |), ${assignCte("a1", "c0")}
       |, ${updateCte("s1", "c1", "a1", "c0")}
       |, ${assignCte("a2", "c1")}
       |, ${updateCte("s2", "c2", "a2", "c1")}
       |, ${assignCte("a3", "c2")}
       |, gc AS MATERIALIZED (
       |  SELECT cell, list_transform(cent, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS g
       |  FROM c2
       |), qs AS MATERIALIZED (
       |  ${qsSql.getOrElse(
            s"SELECT vec_id AS query_id, embedding AS qe FROM emb WHERE vec_id < $nQ")}
       |), probe AS MATERIALIZED (
       |  SELECT query_id, cell${if (keepRank) ", crank" else ""} FROM (
       |    SELECT q.query_id, g.cell,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             list_sum(list_transform(generate_series(1, $dim),
       |               i -> CAST(q.qe[i] AS DOUBLE) * g.g[i]))
       |             / (sqrt(list_sum(list_transform(q.qe,
       |                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |                * sqrt(list_sum(list_transform(g.g, x -> x * x)))) DESC,
       |             g.cell) AS crank
       |    FROM qs q CROSS JOIN gc g)
       |  WHERE crank <= $nProbe
       |)""".stripMargin
  }

  /** Per-subspace codebook chain over an arbitrary lattice CTE
    * (`src` must expose (vec_id, qv)): seed `cb0`, two unrolled
    * exact-integer rounds, final assignment `enc`. Shared by the
    * raw-lattice PQ rows and the residual IVFPQ fit; the cross-modal
    * compressed serve passes its own (m, sub, k) geometry over the
    * dim-8 clip lattice. */
  private def pqCodebookCte(src: String, geom: (Int, Int, Int) = null)
      : String = {
    val (pqM, pqSub, pqK) =
      if (geom == null) (Oracles.pqM, Oracles.pqSub, Oracles.pqK) else geom
    // assignment CTE: per (vec, subspace) argmin over the given
    // codebook CTE by (ordered-fold subspace distance, code)
    def pqAssign(name: String, cbCte: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, s, code FROM (
         |    SELECT v.vec_id, c.s, c.code,
         |           row_number() OVER (PARTITION BY v.vec_id, c.s ORDER BY
         |             list_sum(list_transform(generate_series(1, $pqSub),
         |               j -> (CAST(v.qv[(c.s - 1) * $pqSub + j] AS DOUBLE) - c.cent[j])
         |                  * (CAST(v.qv[(c.s - 1) * $pqSub + j] AS DOUBLE) - c.cent[j]))),
         |             c.code) AS rn
         |    FROM $src v CROSS JOIN $cbCte c)
         |  WHERE rn = 1
         |)""".stripMargin
    // update CTE pair: per-(subspace, code, dim) exact integer sums
    // -> double centroid; empty codes carry the previous one
    def pqUpdate(uName: String, cbName: String, aName: String, prev: String) =
      s"""$uName AS MATERIALIZED (
         |  SELECT a.s, a.code, js.j,
         |         sum(v.qv[(a.s - 1) * $pqSub + js.j]) AS sq, count(*) AS cnt
         |  FROM $aName a JOIN $src v USING (vec_id)
         |  CROSS JOIN (SELECT unnest(generate_series(1, $pqSub)) AS j) js
         |  GROUP BY 1, 2, 3
         |), $cbName AS MATERIALIZED (
         |  SELECT s, code, list(CAST(sq AS DOUBLE) / cnt ORDER BY j) AS cent
         |  FROM $uName GROUP BY s, code
         |  UNION ALL
         |  SELECT p.s, p.code, p.cent FROM $prev p
         |  WHERE NOT EXISTS (SELECT 1 FROM $uName u
         |                    WHERE u.s = p.s AND u.code = p.code)
         |)""".stripMargin
    s"""cb0 AS MATERIALIZED (
       |  SELECT sp.s, CAST(v.vec_id AS INTEGER) AS code,
       |         list_transform(generate_series(1, $pqSub),
       |           j -> CAST(v.qv[(sp.s - 1) * $pqSub + j] AS DOUBLE)) AS cent
       |  FROM $src v CROSS JOIN (SELECT unnest(generate_series(1, $pqM)) AS s) sp
       |  WHERE v.vec_id < $pqK
       |), ${pqAssign("pa1", "cb0")}
       |, ${pqUpdate("pu1", "cb1", "pa1", "cb0")}
       |, ${pqAssign("pa2", "cb1")}
       |, ${pqUpdate("pu2", "cb2", "pa2", "cb1")}
       |, ${pqAssign("enc", "cb2")}""".stripMargin
  }

  /** [[pqCodebookCte]] on the raw lattice + the plain-PQ query side
    * (`pqs` quantized queries, `dt` per-query distance tables). */
  private lazy val pqFitCte: String = pqFitCteN(3)

  /** PQ fit chain (mirrors Pq.boundedTrain + Pq.encode): seed
    * codebooks `cb0`, two unrolled exact-integer update rounds,
    * final per-subspace assignment `enc`, quantized queries `pqs`,
    * and the per-query subspace distance tables `dt`. Assumes `qvt`
    * from [[latticeCte]] precedes it; the rerank and IVF+PQ rows
    * reuse it without the full-corpus ranking. */
  private def pqFitCteN(nQ: Int): String =
    s"""${pqCodebookCte("qvt")}
       |, pqs AS MATERIALIZED (
       |  SELECT vec_id AS query_id, qv AS qq FROM qvt WHERE vec_id < $nQ
       |), dt AS MATERIALIZED (
       |  SELECT q.query_id, c.s, c.code,
       |         list_sum(list_transform(generate_series(1, $pqSub),
       |           j -> (CAST(q.qq[(c.s - 1) * $pqSub + j] AS DOUBLE) - c.cent[j])
       |              * (CAST(q.qq[(c.s - 1) * $pqSub + j] AS DOUBLE) - c.cent[j]))) AS d
       |  FROM pqs q CROSS JOIN cb2 c
       |)""".stripMargin

  /** [[pqFitCte]] + the full-corpus ADC ranking (`pqscored`,
    * `pqranked`) — the serve shape of q_topk_pq and the rerank
    * shortlist, parameterized over the query-set size. */
  private def pqRankedCteN(nQ: Int): String =
    s"""${pqFitCteN(nQ)}
       |, pqscored AS MATERIALIZED (
       |  SELECT e.vec_id, d.query_id,
       |         round(list_sum(list(d.d ORDER BY d.s)), 6) AS adc_dist
       |  FROM enc e JOIN dt d ON d.s = e.s AND d.code = e.code
       |  GROUP BY e.vec_id, d.query_id
       |), pqranked AS MATERIALIZED (
       |  SELECT query_id, vec_id, adc_dist,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY adc_dist, vec_id) AS rank
       |  FROM pqscored
       |)""".stripMargin

  /** Serve SQL bodies parameterized over the query-set size — the
    * nQ=3 forms ARE the catalog serve rows; the recall rows embed the
    * [[graft.Queries.RecallQueryCount]] forms of the identical SQL,
    * so widening the denominator never forks the serve semantics. */
  private def topkCosineSqlN(nQ: Int): String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
       |  FROM embeddings WHERE vec_id < $nQ
       |), s AS (
       |  SELECT q.query_id, e.vec_id,
       |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb), 6) AS cos_sim
       |  FROM embeddings e CROSS JOIN q
       |), r AS (
       |  SELECT query_id, vec_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
       |  FROM s
       |)
       |SELECT query_id, rank, vec_id, cos_sim FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  private def topkIvfSqlN(nQ: Int): String =
    s"""WITH $latticeCte
       |, ${ivfCoarseCteN(nQ)}
       |, fine AS (
       |  SELECT p.query_id, a.vec_id,
       |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |               CAST(q.qe AS DOUBLE[])), 6) AS cos_sim
       |  FROM probe p
       |  JOIN a3 a USING (cell)
       |  JOIN emb e ON e.vec_id = a.vec_id
       |  JOIN qs q ON q.query_id = p.query_id
       |)
       |SELECT query_id, rank, vec_id, cos_sim FROM (
       |  SELECT query_id, vec_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
       |  FROM fine
       |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private def topkPqSqlN(nQ: Int): String =
    s"""WITH $latticeCte
       |, ${pqRankedCteN(nQ)}
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, adc_dist
       |FROM pqranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** ADC-shortlist + exact-lattice rerank parameterized over the
    * query-set size — nQ=3 IS the q_topk_pq_rerank catalog row; the
    * recall row embeds the [[graft.Queries.RecallQueryCount]] form of
    * the identical SQL. Mirrors Pq.adcRerankTopK (served from the
    * saved codes, bit-identical by the lossless round-trip). */
  private def topkPqRerankSqlN(nQ: Int): String =
    s"""WITH $latticeCte
       |, ${pqRankedCteN(nQ)}
       |, sl AS (
       |  SELECT query_id, vec_id FROM pqranked
       |  WHERE rank <= ${graft.Queries.PqRerankShortlist}
       |), rr AS (
       |  SELECT s.query_id, s.vec_id,
       |         list_sum(list_transform(generate_series(1, 64),
       |           j -> CAST(q.qq[j] - v.qv[j] AS BIGINT) * (q.qq[j] - v.qv[j]))) AS l2_dist
       |  FROM sl s
       |  JOIN qvt v ON v.vec_id = s.vec_id
       |  JOIN pqs q ON q.query_id = s.query_id
       |)
       |SELECT query_id, rank, vec_id, CAST(l2_dist AS BIGINT) AS l2_dist FROM (
       |  SELECT query_id, vec_id, l2_dist,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY l2_dist, vec_id) AS INTEGER) AS rank
       |  FROM rr
       |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The shared cell-pruned ADC scoring chain of the IVFPQ rows:
    * coarse probe restricts the scan to probed cells, PQ codes ADC-
    * score inside them (`ipsc` = (query_id, vec_id, adc_dist)). */
  private def ivfpqScoredCteN(nQ: Int): String =
    s"""${ivfCoarseCteN(nQ)}
       |, ${pqFitCteN(nQ)}
       |, ipsc AS MATERIALIZED (
       |  SELECT p.query_id, a.vec_id,
       |         round(list_sum(list(d.d ORDER BY d.s)), 6) AS adc_dist
       |  FROM probe p
       |  JOIN a3 a USING (cell)
       |  JOIN enc e ON e.vec_id = a.vec_id
       |  JOIN dt d ON d.query_id = p.query_id
       |    AND d.s = e.s AND d.code = e.code
       |  GROUP BY p.query_id, a.vec_id
       |)""".stripMargin

  private def topkIvfpqSqlN(nQ: Int): String =
    s"""WITH $latticeCte
       |, ${ivfpqScoredCteN(nQ)}
       |SELECT query_id, rank, vec_id, adc_dist FROM (
       |  SELECT query_id, vec_id, adc_dist,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
       |  FROM ipsc
       |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** IVFPQ + refine (FAISS IndexRefineFlat over the inverted lists):
    * the cell-pruned ADC chain proposes the shortlist, the exact
    * integer lattice L2 re-scores it. Mirrors
    * Pq.adcTopKIndexed(shortlist) → Pq.exactRerank. */
  private def topkIvfpqRerankSqlN(nQ: Int): String =
    s"""WITH $latticeCte
       |, ${ivfpqScoredCteN(nQ)}
       |, isl AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY adc_dist, vec_id) AS rank
       |    FROM ipsc)
       |  WHERE rank <= ${graft.Queries.PqRerankShortlist}
       |), rr AS (
       |  SELECT s.query_id, s.vec_id,
       |         list_sum(list_transform(generate_series(1, 64),
       |           j -> CAST(q.qq[j] - v.qv[j] AS BIGINT) * (q.qq[j] - v.qv[j]))) AS l2_dist
       |  FROM isl s
       |  JOIN qvt v ON v.vec_id = s.vec_id
       |  JOIN pqs q ON q.query_id = s.query_id
       |)
       |SELECT query_id, rank, vec_id, CAST(l2_dist AS BIGINT) AS l2_dist FROM (
       |  SELECT query_id, vec_id, l2_dist,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY l2_dist, vec_id) AS INTEGER) AS rank
       |  FROM rr
       |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The nProbe-vs-recall curve of the IVFPQ+refine serve: ONE
    * widest-depth probe chain (crank kept), sliced per depth in
    * [[graft.Queries.IvfpqProbeLadder]] — each slice `crank <= p` is
    * exactly the candidate set of an nProbe = p serve because a
    * vector lives in one cell and ADC distances don't depend on the
    * probe. Each depth then runs the identical shortlist → exact
    * lattice rerank of [[topkIvfpqRerankSqlN]] and scores recall@5
    * against the exact lattice truth. */
  private def ivfpqProbeRecallSql(nQ: Int): String = {
    val sl = graft.Queries.PqRerankShortlist
    val ladder = graft.Queries.IvfpqProbeLadder
    def depthCtes(p: Int): String =
      s"""isl$p AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY adc_dist, vec_id) AS rank
         |    FROM ipsc WHERE crank <= $p)
         |  WHERE rank <= $sl
         |), rr$p AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT r.query_id, r.vec_id,
         |           row_number() OVER (PARTITION BY r.query_id
         |             ORDER BY r.l2_dist, r.vec_id) AS rank
         |    FROM (
         |      SELECT s.query_id, s.vec_id,
         |             list_sum(list_transform(generate_series(1, 64),
         |               j -> CAST(q.qq[j] - v.qv[j] AS BIGINT) * (q.qq[j] - v.qv[j]))) AS l2_dist
         |      FROM isl$p s
         |      JOIN qvt v ON v.vec_id = s.vec_id
         |      JOIN pqs q ON q.query_id = s.query_id) r)
         |  WHERE rank <= 5
         |), hit$p AS (
         |  SELECT CAST(count(*) AS INTEGER) AS total_hit
         |  FROM rr$p a JOIN truth t
         |    ON t.query_id = a.query_id AND t.vec_id = a.vec_id
         |)""".stripMargin
    val branches = ladder.map(p =>
      s"""SELECT $p AS n_probe, (SELECT total_hit FROM hit$p) AS total_hit,
         |       (SELECT total_k FROM tot) AS total_k""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $latticeCte
       |, ${ivfCoarseCteN(nQ, nProbe = ladder.max, keepRank = true)}
       |, ${pqFitCteN(nQ)}
       |, ipsc AS MATERIALIZED (
       |  SELECT p.query_id, p.crank, a.vec_id,
       |         round(list_sum(list(d.d ORDER BY d.s)), 6) AS adc_dist
       |  FROM probe p
       |  JOIN a3 a USING (cell)
       |  JOIN enc e ON e.vec_id = a.vec_id
       |  JOIN dt d ON d.query_id = p.query_id
       |    AND d.s = e.s AND d.code = e.code
       |  GROUP BY p.query_id, p.crank, a.vec_id
       |), truth AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (${exactLatticeTruthSqlN(nQ)}) t
       |), tot AS (
       |  SELECT CAST(count(*) AS INTEGER) AS total_k FROM truth
       |), ${ladder.map(depthCtes).mkString("\n, ")}
       |SELECT n_probe, total_hit, total_k,
       |       round(CAST(total_hit AS DOUBLE) / total_k, 4) AS mean_recall
       |FROM (
       |  $branches
       |) ORDER BY n_probe""".stripMargin
  }

  /** Crafted clip fixture CTEs shared by every r18 cross-modal
    * oracle (the single source for the clipPixel formula and the
    * decoded-image vectors — a formula change edits ONE place):
    * `ids`/`xs`/`ev` plus `emb` (vec_id, embedding as DOUBLE list),
    * ready for [[qvtCte]] and [[ivfCoarseCteN]] to stack on. */
  private def clipFixtureCte(n: Int, dim: Int): String =
    s"""ids AS (
       |  SELECT unnest(generate_series(0, ${n - 1})) AS id
       |), xs AS (
       |  SELECT unnest(generate_series(0, ${dim - 1})) AS x
       |), ev AS MATERIALIZED (
       |  SELECT id, x,
       |         (id*131 + x*79 + id*x*57 + id*x*x*23) % 256 AS e
       |  FROM ids CROSS JOIN xs
       |), emb AS MATERIALIZED (
       |  SELECT id AS vec_id, list(CAST(e AS DOUBLE) ORDER BY x) AS embedding
       |  FROM ev GROUP BY id
       |)""".stripMargin

  /** The parsed caption vectors as an [[ivfCoarseCteN]] query-CTE
    * body (dequantized tone tokens from the shared formula). */
  private val clipCaptionQs: String =
    s"""SELECT id AS query_id,
       |         list(CAST((e // 4) * 4 + 2 AS DOUBLE) ORDER BY x) AS qe
       |  FROM ev GROUP BY id""".stripMargin

  private def topkIvfpqResSqlN(nQ: Int): String =
    s"""WITH $latticeCte
       |, ${ivfCoarseCteN(nQ)}
       |, rqt AS MATERIALIZED (
       |  SELECT v.vec_id,
       |         list_transform(generate_series(1, 64),
       |           j -> CAST(floor((CAST(v.qv[j] AS DOUBLE) - c.cent[j]) * 8 + 0.5) AS INTEGER)) AS qv
       |  FROM qvt v JOIN a3 a USING (vec_id)
       |  JOIN c2 c ON c.cell = a.cell
       |), ${pqCodebookCte("rqt")}
       |, rqs AS MATERIALIZED (
       |  SELECT p.query_id, p.cell,
       |         list_transform(generate_series(1, 64),
       |           j -> CAST(floor((CAST(v.qv[j] AS DOUBLE) - c.cent[j]) * 8 + 0.5) AS INTEGER)) AS qq
       |  FROM probe p JOIN qvt v ON v.vec_id = p.query_id
       |  JOIN c2 c ON c.cell = p.cell
       |), rdt AS MATERIALIZED (
       |  SELECT q.query_id, q.cell, c.s, c.code,
       |         list_sum(list_transform(generate_series(1, $pqSub),
       |           j -> (CAST(q.qq[(c.s - 1) * $pqSub + j] AS DOUBLE) - c.cent[j])
       |              * (CAST(q.qq[(c.s - 1) * $pqSub + j] AS DOUBLE) - c.cent[j]))) AS d
       |  FROM rqs q CROSS JOIN cb2 c
       |), rsc AS MATERIALIZED (
       |  SELECT d.query_id, e.vec_id,
       |         round(list_sum(list(d.d ORDER BY d.s)), 6) AS adc_dist
       |  FROM a3 a
       |  JOIN enc e ON e.vec_id = a.vec_id
       |  JOIN rdt d ON d.cell = a.cell AND d.s = e.s AND d.code = e.code
       |  GROUP BY d.query_id, e.vec_id
       |)
       |SELECT query_id, rank, vec_id, adc_dist FROM (
       |  SELECT query_id, vec_id, adc_dist,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
       |  FROM rsc
       |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The shared store chain of the saved-serve flagship: store CTEs
    * (chunk → first-wins ids → enumeration) + exact-integer lattice
    * counts/norms/dots + the dense dim-8 embedding, its int8
    * quantization, the bounded-k-means coarse chain (dim 8, probe
    * depth `nProbe`, `keepRank` exposing the probe rank for
    * curve-slicing rows), and the BM25 chain ranked to depth 10
    * (`lr`). [[ragFineDrCte]] appends the nProbe-2 serve's fine
    * search; the curve row slices a keepRank=true probe per depth
    * instead. */
  private def ragBaseCte(nProbe: Int, keepRank: Boolean): String =
    s"""$chunkCte
       |, ids AS (
         |  SELECT doc_id, source, chunk_index, text,
         |         source || '_chunk_' || CAST(chunk_index AS VARCHAR) AS id
         |  FROM ch
         |  QUALIFY row_number() OVER (
         |    PARTITION BY source || '_chunk_' || CAST(chunk_index AS VARCHAR)
         |    ORDER BY doc_id, chunk_index) = 1
         |), st AS MATERIALIZED (
         |  SELECT doc_id, source, chunk_index, text, id,
         |         row_number() OVER (ORDER BY id) - 1 AS vec_id
         |  FROM ids
         |), cb AS (
         |  SELECT vec_id,
         |         CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 8 AS INTEGER) AS bucket
         |  FROM (SELECT vec_id, unnest(regexp_extract_all(text, '$RE')) AS t FROM st)
         |), cnt AS MATERIALIZED (
         |  SELECT vec_id, bucket, CAST(count(*) AS BIGINT) AS c FROM cb GROUP BY 1, 2
         |), cn AS MATERIALIZED (
         |  SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS nn FROM cnt GROUP BY 1
         |), q AS (
         |  SELECT * FROM (VALUES (CAST(0 AS INTEGER), 'join hash window stream'),
         |                        (CAST(1 AS INTEGER), 'sort merge filter vector'),
         |                        (CAST(2 AS INTEGER), 'spark query scan batch'))
         |    AS v(query_id, qtext)
         |), qb AS (
         |  SELECT query_id,
         |         CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 8 AS INTEGER) AS bucket
         |  FROM (SELECT query_id, unnest(regexp_extract_all(qtext, '$RE')) AS t FROM q)
         |), qc AS MATERIALIZED (
         |  SELECT query_id, bucket, CAST(count(*) AS BIGINT) AS c FROM qb GROUP BY 1, 2
         |), qn AS MATERIALIZED (
         |  SELECT query_id, CAST(sum(c * c) AS BIGINT) AS nn FROM qc GROUP BY 1
         |), dt AS MATERIALIZED (
         |  SELECT b.query_id, a.vec_id, CAST(sum(a.c * b.c) AS BIGINT) AS dot
         |  FROM cnt a JOIN qc b USING (bucket) GROUP BY 1, 2
         |), bks AS (
         |  SELECT unnest(generate_series(0, 7)) AS bucket
         |), emb AS MATERIALIZED (
         |  SELECT s.vec_id,
         |         list(CAST(coalesce(c.c, 0) AS DOUBLE) ORDER BY b.bucket) AS embedding
         |  FROM st s CROSS JOIN bks b
         |  LEFT JOIN cnt c ON c.vec_id = s.vec_id AND c.bucket = b.bucket
         |  GROUP BY s.vec_id
         |), $qvtCte
         |, qemb AS MATERIALIZED (
         |  SELECT q.query_id,
         |         list(CAST(coalesce(c.c, 0) AS DOUBLE) ORDER BY b.bucket) AS qe
         |  FROM q CROSS JOIN bks b
         |  LEFT JOIN qc c ON c.query_id = q.query_id AND c.bucket = b.bucket
         |  GROUP BY q.query_id
         |), ${ivfCoarseCteN(3, seedSql = "8", nProbe = nProbe,
              keepRank = keepRank, dim = 8,
              qsSql = Some("SELECT query_id, qe FROM qemb"))}
         |, p0 AS (
         |  SELECT vec_id AS doc_id, unnest(regexp_extract_all(lower(text), '$RE')) AS term
         |  FROM st
         |), postings AS MATERIALIZED (
         |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM p0 GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY 1
         |), stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
         |), dfreq AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM postings GROUP BY 1
         |), qt AS (
         |  SELECT DISTINCT query_id, term FROM (
         |    SELECT query_id, unnest(regexp_extract_all(lower(qtext), '$RE')) AS term FROM q)
         |), lsc AS (
         |  SELECT qt.query_id, p.doc_id,
         |         round(sum(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5)) *
         |           (p.tf * (1.2 + 1.0) /
         |            (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)))), 6) AS score
         |  FROM postings p
         |  JOIN qt ON p.term = qt.term
         |  JOIN dfreq f ON f.term = p.term
         |  JOIN dl d ON d.doc_id = p.doc_id
         |  CROSS JOIN stats s
         |  GROUP BY 1, 2
         |), lr AS (
         |  SELECT query_id, doc_id, rn AS rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY score DESC, doc_id) AS rn
         |    FROM lsc) WHERE rn <= 10
         |)""".stripMargin

  /** The nProbe-2 serve's cell-pruned fine search + depth-10 dense
    * list, appended to [[ragBaseCte]] for the catalog serve rows
    * (fine reads the whole `probe` — at keepRank=false it holds
    * exactly the serve's nProbe cells per query). */
  private lazy val ragFineDrCte: String =
    s"""|, fine AS (
       |  SELECT p.query_id, a.vec_id,
       |         round(CAST(coalesce(dt.dot, 0) AS DOUBLE)
       |           / (sqrt(cn.nn) * sqrt(qn.nn)), 6) AS cos_sim
       |  FROM probe p
       |  JOIN a3 a USING (cell)
       |  JOIN cn ON cn.vec_id = a.vec_id
       |  JOIN qn ON qn.query_id = p.query_id
       |  LEFT JOIN dt ON dt.query_id = p.query_id AND dt.vec_id = a.vec_id
       |), dr AS (
       |  SELECT query_id, vec_id, rn AS rank FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, vec_id) AS rn
       |    FROM fine) WHERE rn <= 10
       |)""".stripMargin

  /** [[ragBaseCte]] at the serve geometry + the serve's fine/dr —
    * the chain q_rag_e2e_indexed and q_rag_fusion_overlap build on. */
  private lazy val ragIndexedChainCte: String =
    ragBaseCte(nProbe = 2, keepRank = false) + "\n" + ragFineDrCte

  /** The brute dense list + exact fusion (q_rag_e2e_hybrid's
    * exact-integer cosine chain, fused with `lr` by the shared RRF)
    * — the truth side of both fusion-eval rows. Emits `frb` =
    * (query_id, doc_id) of the exact fused top-5. */
  private lazy val ragExactFusionCte: String =
    s"""|, dsc AS (
       |  SELECT q.query_id, s.vec_id,
       |         CAST(coalesce(dt.dot, 0) AS DOUBLE)
       |           / (sqrt(cn.nn) * sqrt(qn.nn)) AS cos
       |  FROM st s CROSS JOIN q
       |  JOIN cn ON cn.vec_id = s.vec_id
       |  JOIN qn ON qn.query_id = q.query_id
       |  LEFT JOIN dt ON dt.query_id = q.query_id AND dt.vec_id = s.vec_id
       |), drb AS (
       |  SELECT query_id, vec_id, rn AS rank FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos DESC, vec_id) AS rn
       |    FROM dsc) WHERE rn <= 10
       |), pooledb AS (
       |  SELECT query_id, vec_id AS doc_id, 1.0 / (60.0 + rank) AS contrib FROM drb
       |  UNION ALL
       |  SELECT query_id, doc_id, 1.0 / (60.0 + rank) FROM lr
       |), fusedb AS (
       |  SELECT query_id, doc_id, round(sum(contrib), 6) AS rrf
       |  FROM pooledb GROUP BY 1, 2
       |), frb AS MATERIALIZED (
       |  SELECT query_id, doc_id FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY rrf DESC, doc_id) AS rn
       |    FROM fusedb) WHERE rn <= 5
       |)""".stripMargin

  /** One probed depth of the fusion curve: the keepRank probe sliced
    * at `crank <= p`, the same fine-search/ranking/fusion text as the
    * serve chain, and the per-depth overlap count against `frb`. */
  private def ragFusionCurveDepthCte(p: Int): String =
    s"""|, fine$p AS (
       |  SELECT pr.query_id, a.vec_id,
       |         round(CAST(coalesce(dt.dot, 0) AS DOUBLE)
       |           / (sqrt(cn.nn) * sqrt(qn.nn)), 6) AS cos_sim
       |  FROM (SELECT query_id, cell FROM probe WHERE crank <= $p) pr
       |  JOIN a3 a USING (cell)
       |  JOIN cn ON cn.vec_id = a.vec_id
       |  JOIN qn ON qn.query_id = pr.query_id
       |  LEFT JOIN dt ON dt.query_id = pr.query_id AND dt.vec_id = a.vec_id
       |), dr$p AS (
       |  SELECT query_id, vec_id, rn AS rank FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, vec_id) AS rn
       |    FROM fine$p) WHERE rn <= 10
       |), pooled$p AS (
       |  SELECT query_id, vec_id AS doc_id, 1.0 / (60.0 + rank) AS contrib FROM dr$p
       |  UNION ALL
       |  SELECT query_id, doc_id, 1.0 / (60.0 + rank) FROM lr
       |), fused$p AS (
       |  SELECT query_id, doc_id, round(sum(contrib), 6) AS rrf
       |  FROM pooled$p GROUP BY 1, 2
       |), fr$p AS (
       |  SELECT query_id, doc_id FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY rrf DESC, doc_id) AS rn
       |    FROM fused$p) WHERE rn <= 5
       |), row$p AS (
       |  SELECT CAST($p AS INTEGER) AS n_probe,
       |         CAST(count(*) AS INTEGER) AS total_overlap
       |  FROM frb b JOIN fr$p i
       |    ON i.query_id = b.query_id AND i.doc_id = b.doc_id
       |)""".stripMargin

  private val base: Map[String, String] = Map(

    "q_chunk_fixed" ->
      s"""$chunkCte
         |SELECT doc_id, chunk_index, text, start, "end", char_length, token_length
         |FROM ch ORDER BY doc_id, chunk_index""".stripMargin,

    "q_chunk_summary" ->
      s"""$chunkCte
         |SELECT 'simple' AS strategy, count(*) AS chunk_count,
         |       round(avg(char_length), 4) AS avg_chars,
         |       min(char_length) AS min_chars, max(char_length) AS max_chars,
         |       round(avg(token_length), 4) AS avg_tokens,
         |       min(token_length) AS min_tokens, max(token_length) AS max_tokens
         |FROM ch ORDER BY strategy""".stripMargin,

    "q_chunk_percentiles" ->
      s"""$chunkCte
         |SELECT round(quantile_cont(char_length, 0.5), 4) AS p50_chars,
         |       round(quantile_cont(char_length, 0.9), 4) AS p90_chars,
         |       round(quantile_cont(token_length, 0.5), 4) AS p50_tokens
         |FROM ch""".stripMargin,

    "q_chunk_ids" ->
      s"""$chunkCte
         |SELECT doc_id, source || '_chunk_' || CAST(chunk_index AS VARCHAR) AS id, chunk_index
         |FROM ch ORDER BY doc_id, chunk_index""".stripMargin,

    "q_adjacent_overlap" ->
      s"""$chunkCte
         |SELECT doc_id, chunk_index, start, "end",
         |       next_start, next_end,
         |       CAST(greatest("end" - next_start, 0) AS INTEGER) AS overlap_len
         |FROM (
         |  SELECT doc_id, chunk_index, start, "end",
         |         lead(start) OVER w AS next_start,
         |         lead("end") OVER w AS next_end
         |  FROM ch WINDOW w AS (PARTITION BY doc_id ORDER BY chunk_index)
         |) WHERE next_start IS NOT NULL
         |ORDER BY doc_id, chunk_index""".stripMargin,

    "q_overlap_stats" ->
      s"""$chunkCte
         |SELECT count(*) AS overlapping_pairs,
         |       round(avg(least(a."end", b."end") - greatest(a.start, b.start)), 4) AS avg_overlap
         |FROM ch a JOIN ch b ON a.doc_id = b.doc_id
         |WHERE a.chunk_index < b.chunk_index
         |  AND a."end" > b.start AND b."end" > a.start""".stripMargin,

    "q_boundary_sweep" ->
      s"""$chunkCte
         |, ev AS (
         |  SELECT doc_id, pos, CAST(sum(delta) AS BIGINT) AS delta FROM (
         |    SELECT doc_id, start AS pos, 1 AS delta FROM ch
         |    UNION ALL
         |    SELECT doc_id, "end" AS pos, -1 AS delta FROM ch
         |  ) GROUP BY doc_id, pos
         |), sw AS (
         |  SELECT doc_id, pos,
         |         CAST(sum(delta) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS UNBOUNDED PRECEDING) AS INTEGER) AS active,
         |         CAST(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS INTEGER) AS seg_end
         |  FROM ev
         |)
         |SELECT doc_id, pos AS seg_start, seg_end, active,
         |       active >= 2 AS is_overlap
         |FROM sw WHERE seg_end IS NOT NULL AND active > 0
         |ORDER BY doc_id, seg_start""".stripMargin,

    "q_topk_cosine" -> topkCosineSqlN(3),

    "q_topk_many" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
         |  FROM embeddings WHERE vec_id < 100
         |), s AS (
         |  SELECT q.query_id, e.vec_id,
         |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb), 6) AS cos_sim
         |  FROM embeddings e CROSS JOIN q
         |), r AS (
         |  SELECT query_id, vec_id, cos_sim,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM s
         |)
         |SELECT query_id, rank, vec_id, cos_sim FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

    "q_topk_filtered" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
         |  FROM embeddings WHERE vec_id = 0
         |), s AS (
         |  SELECT q.query_id, e.vec_id,
         |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb), 6) AS cos_sim
         |  FROM embeddings e CROSS JOIN q WHERE e.label = 3
         |), r AS (
         |  SELECT query_id, vec_id, cos_sim,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM s
         |)
         |SELECT query_id, rank, vec_id, cos_sim FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "q_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |             CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |FROM embeddings a CROSS JOIN embeddings b
        |WHERE a.vec_id < 20 AND b.vec_id < 20 AND a.vec_id < b.vec_id
        |ORDER BY id_a, id_b""".stripMargin,

    "q_near_dup_cosine" ->
      """SELECT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |               CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |  FROM embeddings a CROSS JOIN embeddings b
        |  WHERE a.vec_id < 2000 AND b.vec_id < 2000 AND a.vec_id < b.vec_id
        |) WHERE cos_sim >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // full sign-LSH replay: md5 planes → sign bits → band keys →
    // band self-join → exact-cosine confirm (correctly empty on this
    // fixture — max pairwise cosine ≈ 0.51; the key machinery is
    // value-pinned by q_signlsh_bands below)
    "q_near_dup_signlsh" ->
      s"""${signLshKeysCte("")}
         |, cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM keys x JOIN keys y
         |    ON x.band = y.band AND x."key" = y."key" AND x.vec_id < y.vec_id
         |)
         |SELECT id_a, id_b, cos_sim FROM (
         |  SELECT c.id_a, c.id_b,
         |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |               CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.id_a
         |  JOIN embeddings b ON b.vec_id = c.id_b
         |) WHERE cos_sim >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,

    // full BRP-LSH replay: md5 unit directions → floor-bucket keys →
    // bucket self-join → exact-cosine confirm (correctly empty on
    // this fixture — max pairwise cosine ≈ 0.51; the key machinery
    // itself is exercised by the candidate join, and the top-k twin
    // q_topk_lsh value-pins the keys through its candidate sets)
    "q_near_dup_lsh" ->
      s"""${brpKeysCte("")}
         |, cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM keys x JOIN keys y
         |    ON x."table" = y."table" AND x."key" = y."key" AND x.vec_id < y.vec_id
         |)
         |SELECT id_a, id_b, cos_sim FROM (
         |  SELECT c.id_a, c.id_b,
         |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |               CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.id_a
         |  JOIN embeddings b ON b.vec_id = c.id_b
         |) WHERE cos_sim >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,

    // BRP-LSH ANN top-k: queries are corpus rows vec_id<3; candidates
    // = any shared (table, floor-bucket) key, exact cosine re-rank
    "q_topk_lsh" ->
      s"""${brpKeysCte("")}
         |, qk AS (
         |  SELECT vec_id AS query_id, "table", "key" FROM keys WHERE vec_id < 3
         |), cand AS (
         |  SELECT DISTINCT qk.query_id, k2.vec_id
         |  FROM keys k2 JOIN qk USING ("table", "key")
         |), scored AS (
         |  SELECT c.query_id, c.vec_id,
         |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |               CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.vec_id
         |  JOIN embeddings b ON b.vec_id = c.query_id
         |)
         |SELECT query_id, rank, vec_id, cos_sim FROM (
         |  SELECT query_id, vec_id, cos_sim,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_brp_keys" ->
      s"""${brpKeysCte("WHERE vec_id < 200")}
         |SELECT vec_id, "table", "key" FROM keys
         |ORDER BY vec_id, "table"""".stripMargin,

    "q_signlsh_bands" ->
      s"""${signLshKeysCte("WHERE vec_id < 200")}
         |SELECT vec_id, band, "key" FROM keys
         |ORDER BY vec_id, band""".stripMargin,

    // deterministic LSH ANN top-k: queries are corpus rows vec_id<3,
    // so their band keys come from the same keys CTE; candidates =
    // any shared band, exact cosine re-rank, top-5
    "q_topk_signlsh" ->
      s"""${signLshKeysCte("")}
         |, qk AS (
         |  SELECT vec_id AS query_id, band, "key" FROM keys WHERE vec_id < 3
         |), cand AS (
         |  SELECT DISTINCT qk.query_id, k2.vec_id
         |  FROM keys k2 JOIN qk USING (band, "key")
         |), scored AS (
         |  SELECT c.query_id, c.vec_id,
         |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |               CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.vec_id
         |  JOIN embeddings b ON b.vec_id = c.query_id
         |)
         |SELECT query_id, rank, vec_id, cos_sim FROM (
         |  SELECT query_id, vec_id, cos_sim,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // embedding near-dup resolution: sign-LSH candidates (0.45
    // confirm) closed transitively — the same recursive-closure
    // pattern as q_dup_clusters, over the replayable LSH pair set
    "q_dup_clusters_embedding" ->
      s"""${signLshKeysCte("").replaceFirst("WITH ", "WITH RECURSIVE ")}
         |, cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM keys x JOIN keys y
         |    ON x.band = y.band AND x."key" = y."key" AND x.vec_id < y.vec_id
         |), conf AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT c.id_a, c.id_b,
         |           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                 CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
         |    FROM cand c
         |    JOIN embeddings a ON a.vec_id = c.id_a
         |    JOIN embeddings b ON b.vec_id = c.id_b
         |  ) WHERE cos_sim >= 0.45
         |), e AS (
         |  SELECT id_a AS a, id_b AS b FROM conf
         |  UNION SELECT id_b, id_a FROM conf
         |), reach AS (
         |  SELECT a AS node, a AS x FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN e ON e.a = r.x
         |), comp AS (
         |  SELECT node, min(x) AS cluster_id FROM reach GROUP BY node
         |)
         |SELECT c.node AS vec_id, c.cluster_id,
         |       CAST(count(*) OVER (PARTITION BY c.cluster_id) AS INTEGER) AS cluster_size,
         |       c.node = c.cluster_id AS is_canonical
         |FROM comp c
         |ORDER BY cluster_id, vec_id""".stripMargin,

    // DSIR importance weights: hashed-bigram features (md5 buckets),
    // target (lang='en') and raw smoothed LMs from one (doc, bucket)
    // aggregate, per-term ln-ratio in integer microunits (order-free
    // sum), association mirroring the Column tree exactly
    "q_dsir_weights" ->
      s"""WITH toks AS (
         |  SELECT doc_id, tgt, CAST(i - 1 AS INTEGER) AS pos, ts[i] AS tok
         |  FROM (SELECT doc_id,
         |          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
         |          regexp_extract_all(lower(text), '$RE') AS ts
         |        FROM documents),
         |       LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) u
         |), bg AS (
         |  SELECT doc_id, tgt, pos, tok,
         |         lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS a
         |  FROM toks
         |), pd AS (
         |  SELECT doc_id, tgt,
         |         CAST('0x' || substr(md5('dsir|' || a || '_' || tok), 1, 8)
         |           AS BIGINT) % 1024 AS bucket,
         |         count(*) AS m
         |  FROM bg WHERE a IS NOT NULL GROUP BY 1, 2, 3
         |), lm AS (
         |  SELECT bucket,
         |         sum(CASE WHEN tgt = 1 THEN m ELSE 0 END) AS c_t,
         |         sum(m) AS c_q
         |  FROM pd GROUP BY bucket
         |), tot AS (SELECT sum(c_t) AS tt, sum(c_q) AS tq FROM lm)
         |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_feats,
         |       CAST(sum(round(m * ln((CAST(c_t + 1 AS DOUBLE) / (tt + 1024)) /
         |             (CAST(c_q + 1 AS DOUBLE) / (tq + 1024))) * 1e6)) AS BIGINT)
         |         AS logw_micro
         |FROM pd JOIN lm USING (bucket) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // frozen-LM DSIR scoring: the hashed LMs freeze over the history
    // slice (doc_id % 10 < 8), the held-out slice scores against
    // them — buckets the history never saw smooth to the add-one
    // floor (LEFT JOIN + COALESCE 0), replaying the per-row scorer's
    // closed form exactly
    "q_dsir_frozen" ->
      s"""WITH toks AS (
         |  SELECT doc_id, tgt, CAST(i - 1 AS INTEGER) AS pos, ts[i] AS tok
         |  FROM (SELECT doc_id,
         |          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
         |          regexp_extract_all(lower(text), '$RE') AS ts
         |        FROM documents),
         |       LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) u
         |), bg AS (
         |  SELECT doc_id, tgt, pos, tok,
         |         lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS a
         |  FROM toks
         |), pd AS (
         |  SELECT doc_id, tgt,
         |         CAST('0x' || substr(md5('dsir|' || a || '_' || tok), 1, 8)
         |           AS BIGINT) % 1024 AS bucket,
         |         count(*) AS m
         |  FROM bg WHERE a IS NOT NULL GROUP BY 1, 2, 3
         |), lm AS (
         |  SELECT bucket,
         |         sum(CASE WHEN tgt = 1 THEN m ELSE 0 END) AS c_t,
         |         sum(m) AS c_q
         |  FROM pd WHERE doc_id % 10 < 8 GROUP BY bucket
         |), tot AS (SELECT sum(c_t) AS tt, sum(c_q) AS tq FROM lm)
         |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_feats,
         |       CAST(sum(round(m * ln(
         |             (CAST(COALESCE(c_t, 0) + 1 AS DOUBLE) / (tt + 1024)) /
         |             (CAST(COALESCE(c_q, 0) + 1 AS DOUBLE) / (tq + 1024))) * 1e6))
         |         AS BIGINT) AS logw_micro
         |FROM (SELECT * FROM pd WHERE doc_id % 10 >= 8)
         |     LEFT JOIN lm USING (bucket) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // line-level exact dedup: 10-token segmentation, md5-keyed
    // first-wins window (doc order, then position), reassembled-text
    // md5; all-removed documents coalesce to md5('') like Spark's
    // concat_ws over an empty list
    "q_line_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts FROM documents
        |), lines AS (
        |  SELECT doc_id, p,
        |         array_to_string(ts[p*10+1 : p*10+10], ' ') AS line
        |  FROM (SELECT doc_id, ts,
        |          unnest(generate_series(0, CAST(len(ts) AS INTEGER) // 10)) AS p
        |        FROM toks)
        |  WHERE p * 10 < len(ts)
        |), marked AS (
        |  SELECT doc_id, p, line,
        |         CASE WHEN row_number() OVER (PARTITION BY md5(line)
        |                ORDER BY doc_id, p) = 1 THEN 1 ELSE 0 END AS kept
        |  FROM lines
        |)
        |SELECT doc_id,
        |       CAST(count(*) AS INTEGER) AS n_lines,
        |       CAST(sum(kept) AS INTEGER) AS n_kept,
        |       CAST(count(*) - sum(kept) AS INTEGER) AS n_removed,
        |       md5(coalesce(string_agg(CASE WHEN kept = 1 THEN line END,
        |             ' ' ORDER BY p), '')) AS clean_md5
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // k-means topics: the SHARED bounded k-means chain on the raw
    // lattice (a3 = assignments), the bm25 postings chain, cell-level
    // tf, LIFT score (cell share / corpus share — same exact-int
    // divisions, same association) rounded BEFORE ranking, ctf >= 5
    // support floor. Unused serve CTEs (qs/probe) never evaluate.
    "q_kmeans_topics" ->
      s"""WITH $latticeCte
         |, $ivfCoarseCte
         |, p0 AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$RE')) AS term
         |  FROM documents
         |), postings AS (
         |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |  FROM p0 GROUP BY 1, 2
         |), ctf AS (
         |  SELECT a.cell, p.term, CAST(sum(p.tf) AS BIGINT) AS ctf
         |  FROM postings p JOIN a3 a ON a.vec_id = p.doc_id GROUP BY 1, 2
         |), gtf AS (
         |  SELECT term, CAST(sum(ctf) AS BIGINT) AS gtf FROM ctf GROUP BY 1
         |), celltot AS (
         |  SELECT cell, CAST(sum(ctf) AS BIGINT) AS cell_tot
         |  FROM ctf GROUP BY 1
         |), gt AS (SELECT CAST(sum(ctf) AS BIGINT) AS g_tot FROM ctf),
         |sizes AS (
         |  SELECT cell, CAST(count(*) AS INTEGER) AS n_docs FROM a3 GROUP BY 1
         |), scored AS (
         |  SELECT c.cell, c.term,
         |         round((CAST(c.ctf AS DOUBLE) / ct.cell_tot) /
         |               (CAST(g.gtf AS DOUBLE) / gt.g_tot), 6) AS score
         |  FROM ctf c JOIN gtf g USING (term)
         |  JOIN celltot ct USING (cell) CROSS JOIN gt
         |  WHERE c.ctf >= 5
         |), ranked AS (
         |  SELECT cell, term, score,
         |         CAST(row_number() OVER (PARTITION BY cell
         |           ORDER BY score DESC, term) AS INTEGER) AS rank
         |  FROM scored
         |)
         |SELECT r.cell, s.n_docs, r.rank, r.term, r.score
         |FROM ranked r JOIN sizes s USING (cell)
         |WHERE r.rank <= 5
         |ORDER BY cell, rank""".stripMargin,

    // SemDeDup replay: planted-twin lattice, the SHARED bounded
    // k-means chain (c0..a3, verbatim from q_topk_ivf — unused serve
    // CTEs are never evaluated), the exact integer ε²=361/400
    // threshold on intra-cell pairs, recursive min-label closure,
    // smallest-id keeper. Every arithmetic step is integer.
    "q_semdedup" -> semDedupSqlOver(ivfCoarseCte),

    // SemDeDup at the SCALE geometry: identical replay, but the
    // bounded k-means seeds greatest(8, floor(sqrt(n))) cells from a
    // scalar subquery over the same augmented corpus — the
    // cost-balanced cell count (assignment n·c + intra-cell pairs
    // ~n²/c is minimized at c ≈ √n when assignment is exact argmin),
    // replayed identically by both engines because IEEE sqrt/floor
    // are exactly rounded
    "q_semdedup_scaled" -> semDedupSqlOver(ivfCoarseCteN(3,
      "SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM qvt")),

    // incremental SemDeDup: the history k-means chain (shared CTEs),
    // batch derivation (planted twins / reversed fresh / reversed+
    // halved intra-dups), batch quantize + frozen-centroid assign,
    // history-first then earlier-batch ε-resolution, -1 = fresh
    "q_semdedup_incremental" ->
      s"""WITH $latticeCte
         |, $ivfCoarseCte
         |, bemb AS (
         |  SELECT vec_id + 200000 AS vec_id,
         |         list_transform(generate_series(1, 64), i ->
         |           CASE WHEN i = 1
         |                THEN CAST(CAST(embedding[1] AS DOUBLE) * 0.5 AS FLOAT)
         |                ELSE embedding[i] END) AS embedding
         |  FROM embeddings WHERE vec_id < 25
         |  UNION ALL
         |  SELECT vec_id + 300000, list_reverse(embedding)
         |  FROM embeddings WHERE vec_id >= 25 AND vec_id < 35
         |  UNION ALL
         |  SELECT vec_id + 400000,
         |         list_transform(generate_series(1, 64), i ->
         |           CASE WHEN i = 1
         |                THEN CAST(CAST(list_reverse(embedding)[1] AS DOUBLE) * 0.5 AS FLOAT)
         |                ELSE list_reverse(embedding)[i] END)
         |  FROM embeddings WHERE vec_id >= 25 AND vec_id < 30
         |), bqvt AS (
         |  SELECT vec_id,
         |         CASE WHEN m = 0 THEN list_transform(embedding, x -> 0)
         |              ELSE list_transform(embedding,
         |                x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / m) + 0.5) AS INTEGER))
         |         END AS qv
         |  FROM (SELECT vec_id, embedding,
         |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
         |        FROM bemb)
         |), bassign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             list_sum(list_transform(generate_series(1, 64),
         |               i -> (CAST(v.qv[i] AS DOUBLE) - c.cent[i])
         |                  * (CAST(v.qv[i] AS DOUBLE) - c.cent[i]))), c.cell) AS rn
         |    FROM bqvt v CROSS JOIN c2 c)
         |  WHERE rn = 1
         |), hn AS (
         |  SELECT vec_id, CAST(list_sum(list_transform(qv,
         |           x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS nn
         |  FROM qvt
         |), bn AS (
         |  SELECT vec_id, CAST(list_sum(list_transform(qv,
         |           x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS nn
         |  FROM bqvt
         |), vh AS (
         |  SELECT vec_id, min(hist_id) AS dup_of_hist FROM (
         |    SELECT b.vec_id, h.vec_id AS hist_id,
         |           CAST(list_sum(list_transform(generate_series(1, 64),
         |             i -> CAST(hv.qv[i] AS BIGINT) * bv.qv[i])) AS BIGINT) AS dot,
         |           hn.nn AS hnn, bn.nn AS bnn
         |    FROM bassign b JOIN a3 h ON h.cell = b.cell
         |    JOIN qvt hv ON hv.vec_id = h.vec_id
         |    JOIN bqvt bv ON bv.vec_id = b.vec_id
         |    JOIN hn ON hn.vec_id = h.vec_id
         |    JOIN bn ON bn.vec_id = b.vec_id)
         |  WHERE dot > 0 AND 400 * dot * dot >= 361 * hnn * bnn
         |  GROUP BY vec_id
         |), ib AS (
         |  SELECT vec_id, min(xid) AS dup_of_batch FROM (
         |    SELECT y.vec_id, x.vec_id AS xid,
         |           CAST(list_sum(list_transform(generate_series(1, 64),
         |             i -> CAST(xv.qv[i] AS BIGINT) * yv.qv[i])) AS BIGINT) AS dot,
         |           xn.nn AS xnn, yn.nn AS ynn
         |    FROM bassign x JOIN bassign y
         |      ON x.cell = y.cell AND x.vec_id < y.vec_id
         |    JOIN bqvt xv ON xv.vec_id = x.vec_id
         |    JOIN bqvt yv ON yv.vec_id = y.vec_id
         |    JOIN bn xn ON xn.vec_id = x.vec_id
         |    JOIN bn yn ON yn.vec_id = y.vec_id)
         |  WHERE dot > 0 AND 400 * dot * dot >= 361 * xnn * ynn
         |  GROUP BY vec_id
         |)
         |SELECT b.vec_id, b.cell,
         |       coalesce(vh.dup_of_hist, ib.dup_of_batch, -1) AS dup_of,
         |       CAST(CASE WHEN vh.vec_id IS NULL AND ib.vec_id IS NULL
         |            THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM bassign b
         |LEFT JOIN vh ON vh.vec_id = b.vec_id
         |LEFT JOIN ib ON ib.vec_id = b.vec_id
         |ORDER BY b.vec_id""".stripMargin,

    // IVF replay on the crafted two-cluster fixture
    // (Queries.ivfCraftedCorpus/Queries, shared literals): sorted-
    // sample init picks vec 0 and vec 4, one assignment round against
    // the init centroids, one per-cell mean update (= the Lloyd's
    // fixpoint by construction — round 2 regroups identically), then
    // the serve path: probe = best cell by cosine against the
    // FLOAT-cast centroid (the engine ships centroids to the probe
    // join as floats), fine search = exact cosine over the probed
    // cell only, rank, top-3. All sums are written left-assoc over
    // ascending dims to mirror FloatVecExpr's accumulation; centroid
    // means may differ by ulps (avg order) but only feed well-
    // separated assignment/probe DECISIONS, never output values.
    "q_topk_ivf_crafted" -> ivfCraftedSql,

    // the saved-index serve is score-bit-identical to the in-memory
    // crafted row (shared probe/scoring Column trees; floats survive
    // the parquet round-trip exactly) → one oracle SQL, two rows
    "q_topk_ivf_indexed" -> ivfCraftedSql,

    "q_filter_conj" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_extendedprice
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity BETWEEN 10 AND 20
        |  AND l_discount < 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_date_between" ->
      """SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |ORDER BY o_orderkey""".stripMargin,

    "q_string_preds" ->
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_type LIKE 'PROMO%' AND NOT regexp_matches(p_name, 'green|grey')
        |  AND p_name LIKE '%o%'
        |ORDER BY p_partkey""".stripMargin,

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(sum(l_extendedprice), 4) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_broadcast" ->
      """SELECT p_brand,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_join_multi" ->
      """SELECT r_name, count(*) AS n_customers,
        |       round(sum(c_acctbal), 4) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    // as-of semantics via the independent naive form: range join +
    // per-event argmax with the (ts DESC, mark_id DESC) tie rule.
    // date_trunc('microseconds', ...) mirrors the engine's one-time
    // ns→µs source normalization (Tables.events), so the <= compare
    // runs at the same precision in both engines
    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        |  FROM events
        |), j AS (
        |  SELECT e.event_id, e.user_id, e.ts, m.event_id AS mark_id,
        |         row_number() OVER (PARTITION BY e.event_id
        |           ORDER BY m.ts DESC, m.event_id DESC) AS rn
        |  FROM ev e
        |  JOIN ev m ON m.event_id % 5 = 0
        |    AND e.user_id = m.user_id AND m.ts <= e.ts
        |)
        |SELECT event_id, user_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_time, mark_id
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // funnel: views converting to a purchase within the hour; µs
    // truncation mirrors the engine's event-source normalization
    "q_funnel" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         date_trunc('microseconds', ts) AS ts
        |  FROM events
        |), v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |         FROM ev WHERE event_type = 'view'
        |), b AS (SELECT user_id, ts AS buy_ts FROM ev WHERE event_type = 'purchase')
        |SELECT v.user_id,
        |       count(DISTINCT v.view_id) AS converted_views,
        |       strftime(min(v.view_ts), '%Y-%m-%d %H:%M:%S') AS first_converted_view
        |FROM v JOIN b ON v.user_id = b.user_id
        |  AND b.buy_ts > v.view_ts AND b.buy_ts <= v.view_ts + INTERVAL 1 HOUR
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,

    // the pair stage of the funnel (the stream-stream join's batch
    // twin) — same join predicate as q_funnel, no rollup
    "q_funnel_pairs" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         date_trunc('microseconds', ts) AS ts
        |  FROM events
        |), v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |         FROM ev WHERE event_type = 'view'
        |), b AS (SELECT user_id, event_id AS buy_id, ts AS buy_ts
        |         FROM ev WHERE event_type = 'purchase')
        |SELECT v.user_id, v.view_id, b.buy_id,
        |       strftime(v.view_ts, '%Y-%m-%d %H:%M:%S') AS view_time,
        |       strftime(b.buy_ts, '%Y-%m-%d %H:%M:%S') AS buy_time
        |FROM v JOIN b ON v.user_id = b.user_id
        |  AND b.buy_ts > v.view_ts AND b.buy_ts <= v.view_ts + INTERVAL 1 HOUR
        |ORDER BY v.user_id, v.view_id, b.buy_id""".stripMargin,

    // range-join semantics via the independent naive non-equi form
    "q_range_join" ->
      """SELECT e.event_id, w.event_id AS window_id
        |FROM events e
        |JOIN events w ON w.event_id < 200
        |  AND e.ts >= w.ts
        |  AND e.ts < w.ts + INTERVAL 2 HOUR
        |ORDER BY e.event_id, window_id""".stripMargin,

    // the salted-join contract: output equals the PLAIN join
    "q_join_salted" ->
      """SELECT p_brand,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_window_suite" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       CAST(row_number() OVER w_date AS INTEGER) AS seq,
        |       CAST(rank() OVER w_price AS INTEGER) AS price_rank,
        |       CAST(dense_rank() OVER w_price AS INTEGER) AS price_dense_rank,
        |       coalesce(lag(o_totalprice, 1) OVER w_date, 0.0) AS prev_price,
        |       CAST(ntile(4) OVER w_date AS INTEGER) AS quartile
        |FROM orders WHERE o_custkey < 200
        |WINDOW w_date AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       w_price AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
        |ORDER BY o_custkey, seq""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(o_orderpriority, '(all)') AS priority,
        |       coalesce(o_orderstatus, '(all)') AS status,
        |       count(*) AS n, round(sum(o_totalprice), 4) AS total_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin,

    "q_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
        |  FROM orders
        |) WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,

    "q_running_sum" ->
      """SELECT l_orderkey, l_linenumber,
        |       round(sum(l_quantity) OVER (PARTITION BY l_orderkey
        |         ORDER BY l_linenumber ROWS UNBOUNDED PRECEDING), 4) AS running_qty
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_first_per_group" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS latest_date
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate DESC, o_orderkey) AS rn
        |  FROM orders
        |) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q_value_counts" ->
      """SELECT event_type, count(*) AS count FROM events
        |GROUP BY event_type ORDER BY count DESC, event_type""".stripMargin,

    "q_distinct_values" ->
      """SELECT DISTINCT c_mktsegment FROM customer
        |WHERE c_mktsegment IS NOT NULL ORDER BY c_mktsegment""".stripMargin,

    "q_histogram" ->
      """WITH mm AS (
        |  SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
        |         CAST(max(o_totalprice) AS DOUBLE) AS hi,
        |         (CAST(max(o_totalprice) AS DOUBLE) - CAST(min(o_totalprice) AS DOUBLE)) / 10 AS w
        |  FROM orders
        |), b AS (
        |  SELECT CAST(least(floor((CAST(o_totalprice AS DOUBLE) - mm.lo) / mm.w), 9) AS INTEGER) AS bucket
        |  FROM orders, mm
        |)
        |SELECT bucket, count(*) AS count,
        |       round(mm.lo + bucket * mm.w, 4) AS bin_lo,
        |       round(mm.lo + (bucket + 1) * mm.w, 4) AS bin_hi
        |FROM b, mm GROUP BY bucket, mm.lo, mm.w ORDER BY bucket""".stripMargin,

    "q_group_collect" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |       count(*) AS n_nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q_page_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 100 OFFSET 50""".stripMargin,

    "q_topn_global" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_year_quarter" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS VARCHAR) || 'q' ||
        |       CAST(quarter(o_orderdate) AS VARCHAR) AS yq
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_valid_dates" ->
      """SELECT o_orderkey, d,
        |       regexp_matches(d, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
        |         AND year(CAST(d AS DATE)) BETWEEN 2009 AND 2024 AS valid
        |FROM (SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_url_parse" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'https://host/docs/q' || CAST(doc_id % 4 + 1 AS VARCHAR) || '/' ||
        |           source || '.pdf' AS href,
        |         'Q' || CAST(doc_id % 4 + 1 AS VARCHAR) || ' Report' AS link_text
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, href, link_text,
        |         regexp_extract(href, '[^/]*$') AS filename,
        |         CASE WHEN regexp_matches(upper(substr(link_text, 1, 2)), '^Q[1-4]$')
        |                THEN upper(substr(link_text, 1, 2))
        |              WHEN regexp_extract(lower(href), '/(q[1-4])/', 1) <> ''
        |                THEN upper(regexp_extract(lower(href), '/(q[1-4])/', 1))
        |              ELSE NULL END AS quarter
        |  FROM u
        |)
        |SELECT doc_id, href, link_text, filename, quarter,
        |       lower(quarter) || '.pdf' AS renamed
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q_base64" ->
      """SELECT doc_id, to_base64(encode(text)) AS b64,
        |       decode(from_base64(to_base64(encode(text)))) = text AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, count(*) AS dup_count,
        |       min(doc_id) AS keep_doc_id
        |FROM documents GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY text_md5""".stripMargin,

    // delta-ingest dedup: anti-join vs the historical fingerprint set,
    // then first-occurrence within the batch
    "q_dedup_incremental" ->
      """WITH ex AS (
        |  SELECT DISTINCT md5(text) AS text_md5 FROM documents WHERE doc_id < 400
        |), inc AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 20000, text FROM documents
        |  WHERE doc_id >= 400 AND doc_id < 410
        |), f AS (
        |  SELECT doc_id, md5(text) AS text_md5 FROM inc
        |  WHERE md5(text) NOT IN (SELECT text_md5 FROM ex)
        |), r AS (
        |  SELECT doc_id, text_md5,
        |         row_number() OVER (PARTITION BY text_md5 ORDER BY doc_id) AS rn
        |  FROM f
        |)
        |SELECT doc_id, text_md5 FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_minhash_sig" ->
      s"""${shingleCte("WHERE doc_id < 50")}
         |SELECT doc_id,
         |       array_to_string(list_transform(generate_series(0, 3),
         |         s -> list_min(list_transform(shingles,
         |                x -> md5(CAST(s AS VARCHAR) || '|' || x)))), '') AS sig
         |FROM sh ORDER BY doc_id""".stripMargin,

    "q_minhash_candidates" ->
      s"""$minhashCandCte
         |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin,

    // Components by recursive transitive closure over the candidate
    // pairs (both directions), then min reachable id per node — the
    // engine's iterative min-label propagation converges to exactly
    // this fixpoint.
    "q_dup_clusters" ->
      s"""${minhashCandCte.replaceFirst("WITH ", "WITH RECURSIVE ")}
         |, e AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION SELECT doc_b, doc_a FROM cand
         |), reach AS (
         |  SELECT a AS node, a AS x FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN e ON e.a = r.x
         |), comp AS (
         |  SELECT node, min(x) AS cluster_id FROM reach GROUP BY node
         |)
         |SELECT c.node AS doc_id, c.cluster_id, d.n_chars,
         |       CAST(count(*) OVER (PARTITION BY c.cluster_id) AS INTEGER) AS cluster_size,
         |       row_number() OVER (PARTITION BY c.cluster_id
         |         ORDER BY d.n_chars DESC, c.node) = 1 AS is_canonical
         |FROM comp c JOIN documents d ON d.doc_id = c.node
         |ORDER BY cluster_id, doc_id""".stripMargin,

    // containment near-dup over the planted prefix-half corpus: the
    // rare-shingle inverted index (df <= 20) generates candidates
    // sharing >= 3 rare shingles; verification intersects the
    // 60-bit-hashed distinct shingle sets (identity is all the
    // intersection needs; the hash — BIGINT of the first 15 md5 hex
    // chars — is replayed bit-identically by the engine); both
    // directional containments rounded with nothing ranked after
    "q_dup_containment" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000 AS doc_id,
         |         array_to_string((string_split(text, ' '))[
         |           1:CAST(ceil(len(string_split(text, ' ')) / 2.0) AS INTEGER)],
         |           ' ') AS text
         |  FROM documents WHERE doc_id < 20
         |), t AS (
         |  SELECT doc_id, regexp_extract_all(text, '$RE') AS toks
         |  FROM corpus WHERE trim(text) <> ''
         |), tf AS (
         |  SELECT doc_id, toks FROM t WHERE len(toks) > 0
         |), sh AS (
         |  SELECT doc_id,
         |         CASE WHEN len(toks) >= 3
         |              THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |                     i -> array_to_string(toks[i:i+2], ' ')))
         |              ELSE [array_to_string(toks, ' ')] END AS shingles
         |  FROM tf
         |), shh AS (
         |  SELECT doc_id, list_transform(shingles,
         |           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS shh
         |  FROM sh
         |), ex AS (
         |  SELECT doc_id, unnest(shh) AS g FROM shh
         |), rare AS (
         |  SELECT g FROM (SELECT g, count(*) AS df FROM ex GROUP BY 1)
         |  WHERE df <= 20
         |), exr AS (
         |  SELECT e.doc_id, e.g FROM ex e JOIN rare r ON r.g = e.g
         |), cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM exr a JOIN exr b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3
         |), v AS (
         |  SELECT c.doc_a, c.doc_b,
         |         CAST(len(sa.shh) AS INTEGER) AS n_a,
         |         CAST(len(sb.shh) AS INTEGER) AS n_b,
         |         CAST(len(list_intersect(sa.shh, sb.shh)) AS INTEGER) AS inter
         |  FROM cand c
         |  JOIN shh sa ON sa.doc_id = c.doc_a
         |  JOIN shh sb ON sb.doc_id = c.doc_b
         |)
         |SELECT doc_a, doc_b, n_a, n_b, inter,
         |       round(CAST(inter AS DOUBLE) / n_a, 6) AS cont_a,
         |       round(CAST(inter AS DOUBLE) / n_b, 6) AS cont_b,
         |       CAST(greatest(round(CAST(inter AS DOUBLE) / n_a, 6),
         |                     round(CAST(inter AS DOUBLE) / n_b, 6)) >= 0.9
         |         AS INTEGER) AS is_contained
         |FROM v
         |WHERE greatest(round(CAST(inter AS DOUBLE) / n_a, 6),
         |               round(CAST(inter AS DOUBLE) / n_b, 6)) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_contamination" ->
      s"""${shingleCte("")}
         |, ex AS (
         |  SELECT doc_id, CAST(len(shingles) AS INTEGER) AS n_sh,
         |         unnest(shingles) AS shingle
         |  FROM sh
         |), test AS (
         |  SELECT doc_id AS test_id, n_sh AS n_test, shingle FROM ex WHERE doc_id % 50 = 0
         |), train AS (
         |  SELECT doc_id AS train_id, n_sh AS n_train, shingle FROM ex WHERE doc_id % 50 != 0
         |), jn AS (
         |  SELECT test_id, train_id, n_test, n_train, CAST(count(*) AS INTEGER) AS shared
         |  FROM train JOIN test USING (shingle)
         |  GROUP BY 1, 2, 3, 4
         |)
         |SELECT test_id, train_id, shared,
         |       round(CAST(shared AS DOUBLE) / (n_test + n_train - shared), 4) AS jaccard
         |FROM jn WHERE shared >= 2 ORDER BY test_id, train_id""".stripMargin,

    // removal half: q_contamination's >= 2-shared pairs aggregated per
    // train doc, left-joined back to the full train corpus — keep=0
    // exactly for colliding docs, kept content pinned by md5
    "q_decontaminate" ->
      s"""${shingleCte("")}
         |, ex AS (
         |  SELECT doc_id, unnest(shingles) AS shingle FROM sh
         |), test AS (
         |  SELECT doc_id AS test_id, shingle FROM ex WHERE doc_id % 50 = 0
         |), train AS (
         |  SELECT doc_id AS train_id, shingle FROM ex WHERE doc_id % 50 != 0
         |), jn AS (
         |  SELECT test_id, train_id, CAST(count(*) AS INTEGER) AS shared
         |  FROM train JOIN test USING (shingle)
         |  GROUP BY 1, 2
         |), hits AS (
         |  SELECT train_id AS doc_id, CAST(count(*) AS INTEGER) AS n_test_matches
         |  FROM jn WHERE shared >= 2 GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       coalesce(h.n_test_matches, 0) AS n_test_matches,
         |       CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END AS keep,
         |       CASE WHEN h.doc_id IS NULL THEN md5(d.text) ELSE '' END AS content_md5
         |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
         |WHERE d.doc_id % 50 != 0
         |ORDER BY d.doc_id""".stripMargin,

    "q_bm25_topk" ->
      s"""$bm25RankedCte
         |SELECT query_id, rank, doc_id, score FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the saved-index serve path must reproduce the inline path's
    // scores exactly (shared scoring tree; values round-trip parquet
    // losslessly), so its oracle IS the inline oracle
    "q_bm25_indexed" ->
      s"""$bm25RankedCte
         |SELECT query_id, rank, doc_id, score FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_hybrid_rrf" ->
      s"""$bm25RankedCte
         |, dt AS (
         |  SELECT doc_id, CAST(len(ts) AS INTEGER) AS n_d, unnest(ts) AS term
         |  FROM (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '$RE')) AS ts
         |        FROM documents)
         |), qt2 AS (
         |  SELECT query_id, CAST(len(ts) AS INTEGER) AS n_q, unnest(ts) AS term
         |  FROM (SELECT query_id, list_distinct(regexp_extract_all(lower(qtext), '$RE')) AS ts
         |        FROM q)
         |), jsc AS (
         |  SELECT qt2.query_id, dt.doc_id, qt2.n_q, dt.n_d,
         |         round(CAST(count(*) AS DOUBLE) / (qt2.n_q + dt.n_d - count(*)), 6) AS score
         |  FROM dt JOIN qt2 USING (term)
         |  GROUP BY qt2.query_id, dt.doc_id, qt2.n_q, dt.n_d
         |), jr AS (
         |  SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY score DESC, doc_id) AS INTEGER) AS rank, doc_id
         |  FROM jsc
         |), pooled AS (
         |  SELECT query_id, doc_id, round(sum(1.0 / (60.0 + rank)), 6) AS rrf_score
         |  FROM (
         |    SELECT query_id, rank, doc_id FROM ranked WHERE rank <= 10
         |    UNION ALL
         |    SELECT query_id, rank, doc_id FROM jr WHERE rank <= 10
         |  ) GROUP BY 1, 2
         |), fr AS (
         |  SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank,
         |         doc_id, rrf_score
         |  FROM pooled
         |)
         |SELECT query_id, rank, doc_id, rrf_score FROM fr
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // SimHash is md5-derived bit math, so it IS oracle-expressible:
    // byte j of the digest is hex chars 2j,2j+1 (strpos into the hex
    // alphabet), bit k of the 60-bit hash is bit 7−k%8 of byte k/8.
    // Mirrors Dedup.simhash60 exactly: +1/−1 vote per token per bit,
    // h |= 1<<k when the vote is positive, token-less docs hash to 0
    // (LEFT JOIN + COALESCE), 15-bit banding, hamming = bit_count(xor).
    // (60 bits / 15-bit bands since r10 — the 8-bit bands capped the
    // bucket space at 256 per band, a quadratic-occupancy scale bug;
    // threshold 11 ≈ the old 6/32 selectivity on the wider hash.)
    "q_simhash_candidates" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '$RE')) AS t
         |  FROM documents
         |), th AS (
         |  SELECT doc_id, md5(t) AS h FROM tok
         |), bitsum AS (
         |  SELECT doc_id, k,
         |    SUM(CASE WHEN (((strpos('0123456789abcdef', substr(h, (k//8)*2+1, 1)) - 1) * 16
         |               + (strpos('0123456789abcdef', substr(h, (k//8)*2+2, 1)) - 1))
         |               >> (7 - (k % 8))) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS k) ks
         |  GROUP BY doc_id, k
         |), shp AS (
         |  SELECT doc_id,
         |         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bitsum GROUP BY doc_id
         |), shh AS (
         |  SELECT d.doc_id, COALESCE(shp.simhash, 0) AS simhash
         |  FROM documents d LEFT JOIN shp ON d.doc_id = shp.doc_id
         |), banded AS (
         |  SELECT doc_id, simhash, b AS band, (simhash >> (b*15)) & 32767 AS band_key
         |  FROM shh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs
         |), pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |         CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
         |)
         |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 11
         |ORDER BY doc_a, doc_b""".stripMargin,

    // candidate/verify: banded candidates confirmed by exact
    // shingle-Jaccard on just those pairs (union = na + nb − inter)
    "q_minhash_verified" ->
      s"""$minhashCandCte
         |, v AS (
         |  SELECT c.doc_a, c.doc_b,
         |         len(list_intersect(a.shingles, b.shingles)) AS inter,
         |         len(a.shingles) AS na, len(b.shingles) AS nb
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b
         |)
         |SELECT doc_a, doc_b,
         |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
         |FROM v
         |WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    // ExactSubstr repeated spans: 10-gram md5s counted corpus-wide,
    // duplicated positions merged per doc by gaps-and-islands, span
    // re-sliced from the token array and hashed
    "q_substr_spans" ->
      s"""$substrSpansCte
         |SELECT sp.doc_id, sp.tok_start, sp.tok_len,
         |       md5(array_to_string(t2.ts[sp.tok_start + 1 : sp.tok_start + sp.tok_len], ' ')) AS span_md5
         |FROM sp JOIN tkf t2 ON t2.doc_id = sp.doc_id
         |ORDER BY sp.doc_id, sp.tok_start""".stripMargin,

    // the removal half: rank each span group's occurrences globally
    // by (doc_id, tok_start); every non-first occurrence's token
    // range is cut, and the cleaned stream is re-hashed per document
    "q_substr_dedup" ->
      s"""$substrSpansCte
         |, sph AS (
         |  SELECT sp.doc_id, sp.tok_start, sp.tok_len,
         |         md5(array_to_string(t2.ts[sp.tok_start + 1 : sp.tok_start + sp.tok_len], ' ')) AS span_md5
         |  FROM sp JOIN tkf t2 ON t2.doc_id = sp.doc_id
         |), rk AS (
         |  SELECT doc_id, tok_start, tok_len,
         |         row_number() OVER (PARTITION BY span_md5
         |           ORDER BY doc_id, tok_start) AS rn
         |  FROM sph
         |), rm AS (
         |  SELECT doc_id, tok_start, tok_len FROM rk WHERE rn > 1
         |), tokp AS (
         |  SELECT t.doc_id, u.i, t.ts[u.i] AS tok,
         |         NOT EXISTS (SELECT 1 FROM rm r WHERE r.doc_id = t.doc_id
         |           AND u.i - 1 >= r.tok_start
         |           AND u.i - 1 < r.tok_start + r.tok_len) AS kept
         |  FROM tkf t, LATERAL (SELECT unnest(generate_series(1, len(t.ts))) AS i) u
         |), agg AS (
         |  SELECT doc_id,
         |         CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS INTEGER) AS n_after,
         |         md5(coalesce(string_agg(tok, ' ' ORDER BY i) FILTER (kept), '')) AS clean_md5
         |  FROM tokp GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(len(d.ts) AS INTEGER) AS n_tokens_before,
         |       coalesce(a.n_after, CAST(len(d.ts) AS INTEGER)) AS n_tokens_after,
         |       coalesce(a.clean_md5, md5(array_to_string(d.ts, ' '))) AS clean_md5
         |FROM tk d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      s"""${shingleCte("WHERE doc_id < 100")}
         |, shr AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS set_size FROM shr GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM shr a JOIN shr b ON a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, inter, size_a, size_b, jaccard FROM (
         |  SELECT doc_a, doc_b, inter, sa.set_size AS size_a, sb.set_size AS size_b,
         |         round(inter / (sa.set_size + sb.set_size - inter), 6) AS jaccard
         |  FROM inter
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |) WHERE jaccard >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,

    // banding recall vs exact-Jaccard truth: the integer predicate
    // 100*inter >= pct*union buckets truth pairs; candidates are the
    // full-corpus band joins filtered to the truth subset (band keys
    // are per-doc, so subset == filter)
    "q_minhash_recall" ->
      s"""$minhashCandCte
         |, shr AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh
         |          WHERE doc_id < 500),
         |sizes AS (SELECT doc_id, count(*) AS set_size FROM shr GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, count(*) AS inter
         |  FROM shr a JOIN shr b2 ON a.shingle = b2.shingle
         |  WHERE a.doc_id < b2.doc_id GROUP BY 1, 2
         |), truth AS (
         |  SELECT doc_a, doc_b, inter,
         |         sa.set_size AS size_a, sb.set_size AS size_b,
         |         round(inter / (sa.set_size + sb.set_size - inter), 6) AS jacc
         |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |), tt AS (SELECT * FROM truth WHERE jacc >= 0.2),
         |fj AS (
         |  SELECT tt.*, CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS found
         |  FROM tt LEFT JOIN (SELECT * FROM cand
         |                     WHERE doc_a < 500 AND doc_b < 500) c
         |    ON c.doc_a = tt.doc_a AND c.doc_b = tt.doc_b
         |), x AS (
         |  SELECT fj.*, p.pct FROM fj, (SELECT unnest([20, 30, 40, 50]) AS pct) p
         |  WHERE inter * 100 >= pct * (size_a + size_b - inter)
         |)
         |SELECT pct, count(*) AS n_true, CAST(sum(found) AS BIGINT) AS n_found,
         |       (1000000 * CAST(sum(found) AS BIGINT)) // count(*) AS recall_micro
         |FROM x GROUP BY pct ORDER BY pct""".stripMargin,

    // graft.textan.Html replay: the same fixture page, the same
    // RE2-safe patterns with inline (?is) flags (DuckDB only adds
    // 'g'), the same entity decode order (amp LAST), the same
    // whitespace collapse. Engine difference noted: none — every
    // step is a shared-dialect regex or literal replace.
    "q_html_extract" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    '<html><!-- id:' || doc_id || ' --><head><title>Doc ' ||
         |    doc_id || ' &amp; ' || source ||
         |    '</title><style type="text/css">body { color: #000; }' ||
         |    '</style><script>if (1 &lt; 2) { var x = "y"; }' ||
         |    '</script></head><body><h1>Heading &quot;' || doc_id ||
         |    '&quot;</h1><p>' || text ||
         |    '</p><p>See <a href="https://host/d/' || doc_id ||
         |    '">more&nbsp;info</a> &#39;here&#39;</p></body></html>'
         |      AS html
         |  FROM documents
         |), x AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(
         |      replace(replace(replace(replace(replace(replace(
         |        regexp_replace(regexp_replace(regexp_replace(
         |          regexp_replace(html, '(?s)<!--.*?-->', '', 'g'),
         |          '(?is)<script\\b[^>]*>.*?</script>', '', 'g'),
         |          '(?is)<style\\b[^>]*>.*?</style>', '', 'g'),
         |          '<[^>]*>', ' ', 'g'),
         |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
         |      '[$WS]+', ' ', 'g')) AS txt,
         |    trim(regexp_replace(
         |      replace(replace(replace(replace(replace(replace(
         |        regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
         |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
         |      '[$WS]+', ' ', 'g')) AS title,
         |    CAST(len(regexp_extract_all(html, '(?i)\\bhref="')) AS INTEGER)
         |      AS n_links
         |  FROM h
         |)
         |SELECT doc_id, title, n_links,
         |  CAST(length(txt) AS INTEGER) AS n_chars, md5(txt) AS text_md5
         |FROM x ORDER BY doc_id""".stripMargin,

    // same three patterns, same order as graft.textan.Scrub; DuckDB
    // needs the 'g' flag to replace all matches like Spark does
    "q_redact" ->
      s"""SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text,
         |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      'https?://[^$WS]+', '<URL>', 'g'),
         |    '[0-9]{4,}', '<NUM>', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the engine computes this with the two-pass distributed prefix
    // sum (PrefixSum); the oracle is the plain ordered-window form —
    // the whole point is that they are value-identical
    "q_token_shards" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_extract_all(text, '$RE')) AS INTEGER) AS n_tokens
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |           AS prefix_tokens
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, prefix_tokens,
         |       CAST(FLOOR(prefix_tokens / 2000) AS INTEGER) AS shard
         |FROM p ORDER BY doc_id""".stripMargin,

    // sequence packing: the engine's distributed two-pass prefix sum
    // is value-identical to the single-window ORDER BY form
    "q_seq_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_extract_all(text, '$RE')) AS INTEGER) AS n_tokens
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |           AS tok_start
         |  FROM t
         |), s AS (
         |  SELECT doc_id, n_tokens, tok_start,
         |         CAST(tok_start // 512 AS BIGINT) AS first_seq,
         |         CAST(tok_start % 512 AS INTEGER) AS first_off,
         |         CAST(CASE WHEN n_tokens > 0
         |              THEN (tok_start + n_tokens - 1) // 512
         |              ELSE tok_start // 512 END AS BIGINT) AS last_seq
         |  FROM p
         |)
         |SELECT doc_id, n_tokens, tok_start, first_seq, first_off, last_seq,
         |       CAST(last_seq - first_seq + 1 AS INTEGER) AS n_seqs
         |FROM s ORDER BY doc_id""".stripMargin,

    // global heavy-hitter bigrams, deterministic (count DESC, gram) cut
    "q_top_ngrams" ->
      s"""WITH tk AS (
         |  SELECT regexp_extract_all(text, '$RE') AS ts FROM documents
         |), bg AS (
         |  SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
         |           i -> ts[i] || ' ' || ts[i + 1])) AS gram
         |  FROM tk WHERE len(ts) >= 2
         |)
         |SELECT gram, count(*) AS n_occ FROM bg GROUP BY gram
         |ORDER BY n_occ DESC, gram LIMIT 20""".stripMargin,

    // deterministic seeded shuffle: md5 hash key -> shard residue ->
    // within-shard rank; Spark conv(hex,16,10) == DuckDB 0x-cast, %
    // on a positive key == pmod
    "q_corpus_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         CAST('0x' || substr(md5('shuffle-42|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hkey
         |  FROM documents
         |)
         |SELECT doc_id, CAST(hkey % 8 AS INTEGER) AS shard,
         |       CAST(row_number() OVER (PARTITION BY hkey % 8
         |         ORDER BY hkey, doc_id) AS INTEGER) AS pos_in_shard
         |FROM h ORDER BY shard, pos_in_shard""".stripMargin,

    // frozen hashing-trick linear classifier: unigram+bigram features
    // hashed straight to integer weights in [-1000, 1000] (md5 0x-cast
    // % 2001 - 1000), folded by exact integer list_sum (order-free),
    // ONE double division for the mean — mirrors
    // TextAnalysis.classifierScore op for op
    "q_classifier_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '$RE') AS toks
         |  FROM documents
         |), f AS (
         |  SELECT doc_id,
         |         list_concat(toks,
         |           list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
         |             i -> toks[i] || '_' || toks[i + 1])) AS feats
         |  FROM t
         |), sc AS (
         |  SELECT doc_id, len(feats) AS n_features,
         |         CAST(coalesce(list_sum(list_transform(feats,
         |           f -> CAST('0x' || substr(md5('clf|' || f), 1, 8) AS BIGINT)
         |                % 2001 - 1000)), 0) AS BIGINT) AS s_int
         |  FROM f
         |)
         |SELECT doc_id, CAST(n_features AS INTEGER) AS n_features,
         |       CASE WHEN n_features > 0
         |            THEN round(CAST(s_int AS DOUBLE) / (1000.0 * n_features), 6)
         |            ELSE 0.0 END AS score,
         |       CAST(CASE WHEN CAST(s_int AS DOUBLE) >= 0.0 * 1000.0 * n_features
         |            THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,

    // first 16 bits of md5(key) < 0.25 * 65536 — same bucket math as
    // graft.rel.Sampling (Spark conv(hex,16,10) == DuckDB 0x-cast)
    "q_sample_det" ->
      s"""SELECT o_orderkey,
         |       CAST(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS INTEGER) AS INTEGER) AS bucket
         |FROM orders
         |WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS INTEGER) < 16384
         |ORDER BY o_orderkey""".stripMargin,

    // sum pooling replay: pooled components = md5-bucket token counts
    // summed across each doc's chunks — exact integers end to end
    "q_embed_pool" -> {
      def eCol(i: Int): String =
        s"CAST(coalesce(sum(CASE WHEN b = $i THEN c END), 0) AS BIGINT) AS e$i"
      s"""$chunkCte
         |, tok AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '$RE')) AS t FROM ch
         |), bk AS (
         |  SELECT doc_id,
         |         CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 8 AS INTEGER) AS b
         |  FROM tok
         |), counts AS (
         |  SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2
         |), nch AS (
         |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_chunks FROM ch GROUP BY 1
         |)
         |SELECT n.doc_id, n.n_chunks,
         |       ${(0 until 8).map(eCol).mkString(",\n       ")}
         |FROM nch n LEFT JOIN counts USING (doc_id)
         |GROUP BY n.doc_id, n.n_chunks ORDER BY n.doc_id""".stripMargin
    },

    // unigram-LM quality proxy: per-(doc,term) contributions scaled
    // to integer microunits so the sum is order-independent (exact
    // whole-double addition), mirroring the Spark side's fixed
    // reduction; zero-token docs drop out of the explode on both sides
    "q_unigram_logprob" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$RE')) AS term
         |  FROM documents
         |), vocab AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS cnt FROM toks GROUP BY term
         |), tot AS (SELECT sum(cnt) AS total FROM vocab),
         |pt AS (
         |  SELECT doc_id, term, count(*) AS m FROM toks GROUP BY 1, 2
         |)
         |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
         |       round(sum(round(m * ln(cnt / total) * 1e6))
         |             / (sum(m) * 1e6), 4) AS avg_logprob
         |FROM pt JOIN vocab USING (term) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // windowed PMI collocations: +1/+2 offset joins for pairs, then
    // ln((c_ab/Np) / ((c_a/Nt)*(c_b/Nt))) mirroring the Column tree
    // content-defined chunking: local 3-gram md5 cut decisions, per-
    // doc lag/running-sum windows split into separate CTEs (DuckDB
    // rejects nested window calls), ordered string_agg for block md5
    "q_chunk_cdc" ->
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ts[i] AS tok
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '$RE') AS ts
         |        FROM documents),
         |       LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) u
         |), f AS (
         |  SELECT doc_id, pos, tok,
         |         lag(tok, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS g3,
         |         lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS g2,
         |         lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS g1
         |  FROM toks
         |), c AS (
         |  SELECT doc_id, pos, tok,
         |         CASE WHEN g3 IS NULL THEN 0
         |              WHEN CAST('0x' || substr(md5(g3 || ' ' || g2 || ' ' || g1), 1, 8)
         |                     AS BIGINT) % 8 = 0 THEN 1
         |              ELSE 0 END AS cut_before
         |  FROM f
         |), ids AS (
         |  SELECT doc_id, pos, tok,
         |         CAST(sum(cut_before) OVER (PARTITION BY doc_id ORDER BY pos)
         |           AS INTEGER) AS block_index
         |  FROM c
         |)
         |SELECT doc_id, block_index,
         |       CAST(min(pos) AS INTEGER) AS token_start,
         |       CAST(count(*) AS INTEGER) AS n_tokens,
         |       md5(string_agg(tok, ' ' ORDER BY pos)) AS block_md5
         |FROM ids GROUP BY doc_id, block_index
         |ORDER BY doc_id, block_index""".stripMargin,

    // CDC block-level dedup removal: per-block_md5 first-occurrence
    // window, per-doc ordered reassembly of the kept blocks
    "q_cdc_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ts[i] AS tok
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '$RE') AS ts
         |        FROM documents),
         |       LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) u
         |), f AS (
         |  SELECT doc_id, pos, tok,
         |         lag(tok, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS g3,
         |         lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS g2,
         |         lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS g1
         |  FROM toks
         |), c AS (
         |  SELECT doc_id, pos, tok,
         |         CASE WHEN g3 IS NULL THEN 0
         |              WHEN CAST('0x' || substr(md5(g3 || ' ' || g2 || ' ' || g1), 1, 8)
         |                     AS BIGINT) % 8 = 0 THEN 1
         |              ELSE 0 END AS cut_before
         |  FROM f
         |), ids AS (
         |  SELECT doc_id, pos, tok,
         |         sum(cut_before) OVER (PARTITION BY doc_id ORDER BY pos) AS block_index
         |  FROM c
         |), blocks0 AS (
         |  SELECT doc_id, block_index,
         |         string_agg(tok, ' ' ORDER BY pos) AS block_text
         |  FROM ids GROUP BY doc_id, block_index
         |), rk AS (
         |  SELECT doc_id, block_index, block_text,
         |         row_number() OVER (PARTITION BY md5(block_text)
         |           ORDER BY doc_id, block_index) AS rn
         |  FROM blocks0
         |)
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_blocks,
         |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
         |       CASE WHEN sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) = 0 THEN ''
         |            ELSE md5(string_agg(CASE WHEN rn = 1 THEN block_text END,
         |                     ' ' ORDER BY block_index))
         |       END AS cleaned_md5
         |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // CDC block-level near-dup pairs: distinct (doc, block) set,
    // >50-doc boilerplate blocks dropped, >=2 shared blocks kept
    "q_cdc_shared" ->
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ts[i] AS tok
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '$RE') AS ts
         |        FROM documents),
         |       LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) u
         |), f AS (
         |  SELECT doc_id, pos, tok,
         |         lag(tok, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS g3,
         |         lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS g2,
         |         lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS g1
         |  FROM toks
         |), c AS (
         |  SELECT doc_id, pos, tok,
         |         CASE WHEN g3 IS NULL THEN 0
         |              WHEN CAST('0x' || substr(md5(g3 || ' ' || g2 || ' ' || g1), 1, 8)
         |                     AS BIGINT) % 8 = 0 THEN 1
         |              ELSE 0 END AS cut_before
         |  FROM f
         |), ids AS (
         |  SELECT doc_id, pos, tok,
         |         sum(cut_before) OVER (PARTITION BY doc_id ORDER BY pos) AS block_index
         |  FROM c
         |), blocks0 AS (
         |  SELECT doc_id, block_index,
         |         md5(string_agg(tok, ' ' ORDER BY pos)) AS block_md5
         |  FROM ids GROUP BY doc_id, block_index
         |), blocks AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, block_md5 FROM blocks0
         |), rare AS (
         |  SELECT block_md5 FROM blocks GROUP BY block_md5 HAVING count(*) <= 50
         |), b AS (
         |  SELECT doc_id, block_md5 FROM blocks JOIN rare USING (block_md5)
         |)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |       CAST(count(*) AS INTEGER) AS shared_blocks
         |FROM b x JOIN b y ON y.block_md5 = x.block_md5 AND x.doc_id < y.doc_id
         |GROUP BY x.doc_id, y.doc_id
         |HAVING count(*) >= 2
         |ORDER BY doc_a, doc_b""".stripMargin,

    // interpolated bigram LM: pos/pos+1 offset join for bigrams, the
    // same integer-microunit order-free reduction as the unigram row;
    // double math mirrors the Column tree's association exactly
    "q_bigram_logprob" ->
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ts[i] AS tok
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '$RE') AS ts
         |        FROM documents),
         |       LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) u
         |), uc AS (
         |  SELECT tok, CAST(count(*) AS DOUBLE) AS c_t FROM toks GROUP BY tok
         |), nt AS (SELECT sum(c_t) AS n_toks FROM uc
         |), bi AS (
         |  SELECT l.doc_id, l.tok AS a, r.tok AS b
         |  FROM toks l JOIN toks r ON r.doc_id = l.doc_id AND r.pos = l.pos + 1
         |), bc AS (
         |  SELECT a, b, CAST(count(*) AS DOUBLE) AS c_ab FROM bi GROUP BY a, b
         |), pm AS (
         |  SELECT doc_id, a, b, count(*) AS m FROM bi GROUP BY 1, 2, 3
         |)
         |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
         |       round(sum(round(m * ln(0.7 * (bc.c_ab / ua.c_t)
         |               + 0.3 * (ub.c_t / nt.n_toks)) * 1e6))
         |             / (sum(m) * 1e6), 4) AS avg_logprob
         |FROM pm
         |JOIN bc USING (a, b)
         |JOIN uc ua ON ua.tok = pm.a
         |JOIN uc ub ON ub.tok = pm.b
         |CROSS JOIN nt
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_pmi_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ts[i] AS tok
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '$RE') AS ts
         |        FROM documents),
         |       LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) u
         |), pairs AS (
         |  SELECT least(l.tok, r.tok) AS a, greatest(l.tok, r.tok) AS b
         |  FROM toks l
         |  JOIN (SELECT unnest([1, 2]) AS d) ds ON true
         |  JOIN toks r ON r.doc_id = l.doc_id AND r.pos = l.pos + ds.d
         |), pc AS (
         |  SELECT a, b, CAST(count(*) AS DOUBLE) AS c_ab FROM pairs GROUP BY a, b
         |), uc AS (
         |  SELECT tok, CAST(count(*) AS DOUBLE) AS c_t FROM toks GROUP BY tok
         |), np AS (SELECT sum(c_ab) AS n_pairs FROM pc
         |), nt AS (SELECT sum(c_t) AS n_toks FROM uc)
         |SELECT pc.a, pc.b, CAST(pc.c_ab AS BIGINT) AS n_cooc,
         |       round(ln((pc.c_ab / np.n_pairs) /
         |             ((ua.c_t / nt.n_toks) * (ub.c_t / nt.n_toks))), 6) AS pmi
         |FROM pc
         |JOIN uc ua ON ua.tok = pc.a
         |JOIN uc ub ON ub.tok = pc.b
         |CROSS JOIN np CROSS JOIN nt
         |ORDER BY pc.a, pc.b""".stripMargin,

    // tf·idf keywords over the shared BM25 index frames (the CTE's
    // query-side members are simply unused here)
    "q_tfidf_keywords" ->
      s"""$bm25RankedCte
         |, tscore AS (
         |  SELECT p.doc_id, p.term,
         |         round(p.tf * ln(s.n_docs / f.df), 6) AS score
         |  FROM postings p JOIN dfreq f USING (term) CROSS JOIN stats s
         |), tr AS (
         |  SELECT doc_id, term, score,
         |         CAST(row_number() OVER (PARTITION BY doc_id
         |           ORDER BY score DESC, term) AS INTEGER) AS rank
         |  FROM tscore
         |)
         |SELECT doc_id, rank, term, score FROM tr WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,

    // KMV sketch replay: the k smallest distinct md5-uniform hashes
    // are deterministic VALUES, not just an error bound
    "q_kmv_distinct" ->
      s"""${shingleCte("")}
         |, vocab AS (
         |  SELECT DISTINCT unnest(shingles) AS term FROM sh
         |), h AS (
         |  SELECT DISTINCT
         |         CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) / 4294967296.0 AS u
         |  FROM vocab
         |), kth AS (
         |  SELECT max(u) AS u_k, count(*) AS k_got
         |  FROM (SELECT u FROM h ORDER BY u LIMIT 64)
         |), ex AS (SELECT count(*) AS n_exact FROM vocab)
         |SELECT n_exact, k_got, u_k,
         |       round((k_got - 1) / u_k, 4) AS estimate,
         |       round(abs((k_got - 1) / u_k - n_exact) / n_exact, 4) AS rel_error
         |FROM ex CROSS JOIN kth""".stripMargin,

    // HLL sketch replay: 256 md5-derived registers, exact-integer
    // register sum (bigint shifts), one final float division — the
    // alpha constant round-trips through Double.toString exactly
    "q_hll_distinct" ->
      s"""${shingleCte("")}
         |, vocab AS (
         |  SELECT DISTINCT unnest(shingles) AS term FROM sh
         |), r AS (
         |  SELECT CAST(CAST('0x' || substr(md5(term), 1, 2) AS BIGINT) AS INTEGER) AS idx,
         |         CASE WHEN ltrim(substr(md5(term), 3, 13), '0') = '' THEN 53
         |              ELSE 4 * (13 - length(ltrim(substr(md5(term), 3, 13), '0')))
         |                   + CASE WHEN substr(ltrim(substr(md5(term), 3, 13), '0'), 1, 1) = '1' THEN 3
         |                          WHEN substr(ltrim(substr(md5(term), 3, 13), '0'), 1, 1) IN ('2', '3') THEN 2
         |                          WHEN substr(ltrim(substr(md5(term), 3, 13), '0'), 1, 1) IN ('4', '5', '6', '7') THEN 1
         |                          ELSE 0 END + 1
         |         END AS rho
         |  FROM vocab
         |), regs AS (
         |  SELECT idx, max(rho) AS mrho, count(*) AS n_terms FROM r GROUP BY idx
         |), agg AS (
         |  SELECT CAST(sum(n_terms) AS BIGINT) AS n_exact,
         |         count(*) AS n_nonzero,
         |         CAST(sum(mrho) AS BIGINT) AS rho_sum,
         |         CAST(sum(CAST(1 AS BIGINT) << (53 - mrho)) AS BIGINT) AS s_scaled
         |  FROM regs
         |), e AS (
         |  SELECT n_exact, n_nonzero, rho_sum,
         |         ${rel.Sketches.HllAlphaM2Scaled}
         |           / CAST(s_scaled + (256 - n_nonzero) * 9007199254740992 AS DOUBLE) AS raw
         |  FROM agg
         |), f AS (
         |  SELECT *, CASE WHEN raw <= 640.0 AND n_nonzero < 256
         |                 THEN 256.0 * ln(256.0 / CAST(256 - n_nonzero AS DOUBLE))
         |                 ELSE raw END AS est
         |  FROM e
         |)
         |SELECT n_exact, 256 AS m,
         |       CAST(256 - n_nonzero AS INTEGER) AS zero_registers,
         |       rho_sum, round(est, 4) AS estimate,
         |       round(abs(est - n_exact) / n_exact, 4) AS rel_error
         |FROM f""".stripMargin,

    // Bloom membership replay: positions, hits and any deterministic
    // false positives reproduce exactly
    "q_bloom_filter" ->
      s"""WITH vocab AS (
         |  SELECT DISTINCT unnest(regexp_extract_all(lower(text), '$RE')) AS term
         |  FROM documents
         |), bits AS (
         |  SELECT DISTINCT unnest(list_transform(generate_series(0, 2),
         |    h -> CAST(CAST('0x' || substr(md5(CAST(h AS VARCHAR) || '|' || term), 1, 8)
         |      AS BIGINT) % 4096 AS INTEGER))) AS pos
         |  FROM vocab
         |), probes(probe) AS (VALUES
         |  ('join'), ('window'), ('spark'), ('stream'),
         |  ('zzyzx'), ('qwertyuiop'), ('nonexistentterm'), ('fleventy')
         |), pp AS (
         |  SELECT probe, unnest(list_transform(generate_series(0, 2),
         |    h -> CAST(CAST('0x' || substr(md5(CAST(h AS VARCHAR) || '|' || probe), 1, 8)
         |      AS BIGINT) % 4096 AS INTEGER))) AS pos
         |  FROM probes
         |), t AS (
         |  SELECT p.probe,
         |         CAST(CASE WHEN count(*) =
         |             sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
         |           THEN 1 ELSE 0 END AS INTEGER) AS maybe_present
         |  FROM pp p LEFT JOIN bits b ON b.pos = p.pos GROUP BY p.probe
         |)
         |SELECT t.probe, t.maybe_present,
         |       CAST(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         |         AS actually_present
         |FROM t LEFT JOIN vocab v ON v.term = t.probe
         |ORDER BY t.probe""".stripMargin,

    // CMS heavy-hitter replay: the integer counter grid itself is
    // md5-derived, so estimates AND collisions reproduce exactly
    "q_cms_topk" ->
      s"""WITH tf AS (
         |  SELECT term, count(*) AS cnt FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '$RE')) AS term
         |    FROM documents) GROUP BY term
         |), keyed AS (
         |  SELECT term, cnt, h,
         |         CAST(CAST('0x' || substr(md5(CAST(h AS VARCHAR) || '|' || term), 1, 8)
         |           AS BIGINT) % 64 AS INTEGER) AS pos
         |  FROM tf CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS h)
         |), counters AS (
         |  SELECT h, pos, CAST(sum(cnt) AS BIGINT) AS counter
         |  FROM keyed GROUP BY h, pos
         |), est AS (
         |  SELECT k.term, min(c.counter) AS cms_count
         |  FROM keyed k JOIN counters c ON c.h = k.h AND c.pos = k.pos
         |  GROUP BY k.term
         |)
         |SELECT t.term, t.cnt AS exact_count, e.cms_count,
         |       e.cms_count - t.cnt AS overcount
         |FROM tf t JOIN est e ON e.term = t.term
         |ORDER BY e.cms_count DESC, t.term LIMIT 20""".stripMargin,

    // NFC normalization on the crafted multi-form fixture; chr codes
    // mirror the engine's \u escapes exactly
    "q_normalize_nfc" ->
      """WITH docs(doc_id, text) AS (VALUES
        |  (CAST(1 AS BIGINT), 'cafe' || chr(769)),
        |  (CAST(2 AS BIGINT), 'caf' || chr(233)),
        |  (CAST(3 AS BIGINT), 'A' || chr(778) || 'ngstro' || chr(776) || 'm'),
        |  (CAST(4 AS BIGINT), 'plain ascii text'),
        |  (CAST(5 AS BIGINT), chr(64257) || 'le'),
        |  (CAST(6 AS BIGINT), '')
        |)
        |SELECT doc_id,
        |       CAST(length(text) AS INTEGER) AS n_chars_raw,
        |       CAST(length(nfc_normalize(text)) AS INTEGER) AS n_chars_nfc,
        |       md5(nfc_normalize(text)) AS nfc_md5,
        |       CAST(text <> nfc_normalize(text) AS INTEGER) AS changed
        |FROM docs ORDER BY doc_id""".stripMargin,

    // int8 quantization replay: maxabs is float→double exact, the
    // quantized values integer — every output column is immune to
    // accumulation order
    // MMR greedy diversity re-rank, k=3 unrolled: seed = relevance
    // argmax, each later round maximizes 0.5*rel - 0.5*max(sim to
    // selected) over the remaining top-10 candidates; all scores
    // round-6 before argmax, ties to lowest vec_id
    "q_topk_mmr" ->
      """WITH emb AS (
        |  SELECT vec_id, embedding FROM embeddings
        |), qs AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM emb WHERE vec_id < 3
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |               CAST(q.qe AS DOUBLE[])), 6) AS rel
        |  FROM emb e CROSS JOIN qs q
        |), cand AS (
        |  SELECT query_id, vec_id, rel FROM (
        |    SELECT query_id, vec_id, rel,
        |           row_number() OVER (PARTITION BY query_id
        |             ORDER BY rel DESC, vec_id) AS rn
        |    FROM scored) WHERE rn <= 10
        |), sim AS (
        |  SELECT c.query_id, c.vec_id AS a, s.vec_id AS b,
        |         round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |               CAST(eb.embedding AS DOUBLE[])), 6) AS sim
        |  FROM cand c JOIN cand s USING (query_id)
        |  JOIN emb ea ON ea.vec_id = c.vec_id
        |  JOIN emb eb ON eb.vec_id = s.vec_id
        |  WHERE c.vec_id <> s.vec_id
        |), s1 AS (
        |  SELECT query_id, vec_id, rel AS score FROM (
        |    SELECT query_id, vec_id, rel,
        |           row_number() OVER (PARTITION BY query_id
        |             ORDER BY rel DESC, vec_id) AS rn
        |    FROM cand) WHERE rn = 1
        |), m2 AS (
        |  SELECT c.query_id, c.vec_id,
        |         round(0.5 * c.rel - 0.5 * v.sim, 6) AS mmr
        |  FROM cand c
        |  JOIN s1 ON s1.query_id = c.query_id AND c.vec_id <> s1.vec_id
        |  JOIN sim v ON v.query_id = c.query_id AND v.a = c.vec_id
        |    AND v.b = s1.vec_id
        |), s2 AS (
        |  SELECT query_id, vec_id, mmr AS score FROM (
        |    SELECT query_id, vec_id, mmr,
        |           row_number() OVER (PARTITION BY query_id
        |             ORDER BY mmr DESC, vec_id) AS rn
        |    FROM m2) WHERE rn = 1
        |), m3 AS (
        |  SELECT c.query_id, c.vec_id,
        |         round(0.5 * c.rel - 0.5 * greatest(va.sim, vb.sim), 6) AS mmr
        |  FROM cand c
        |  JOIN s1 ON s1.query_id = c.query_id
        |  JOIN s2 ON s2.query_id = c.query_id
        |  JOIN sim va ON va.query_id = c.query_id AND va.a = c.vec_id
        |    AND va.b = s1.vec_id
        |  JOIN sim vb ON vb.query_id = c.query_id AND vb.a = c.vec_id
        |    AND vb.b = s2.vec_id
        |  WHERE c.vec_id <> s1.vec_id AND c.vec_id <> s2.vec_id
        |), s3 AS (
        |  SELECT query_id, vec_id, mmr AS score FROM (
        |    SELECT query_id, vec_id, mmr,
        |           row_number() OVER (PARTITION BY query_id
        |             ORDER BY mmr DESC, vec_id) AS rn
        |    FROM m3) WHERE rn = 1
        |)
        |SELECT query_id, CAST(1 AS INTEGER) AS rank, vec_id, score FROM s1
        |UNION ALL
        |SELECT query_id, CAST(2 AS INTEGER), vec_id, score FROM s2
        |UNION ALL
        |SELECT query_id, CAST(3 AS INTEGER), vec_id, score FROM s3
        |ORDER BY query_id, rank""".stripMargin,

    // IVF on REAL embeddings with the distributed bounded-rounds fit:
    // int8-quantize (exact lattice), 2 unrolled k-means rounds whose
    // centroid updates are exact-integer sum / count (order-free),
    // assignment = argmin of ordered-fold squared distances with
    // lowest-cell ties, then float-cast-centroid probe (top-2 cells)
    // and exact-cosine fine search (round 6). Mirrors
    // Ivf.boundedIndex + Ivf.topK op for op.
    "q_topk_ivf" -> topkIvfSqlN(3),

    // PQ on REAL embeddings: per-subspace bounded-rounds k-means on
    // the int8 lattice (pqM subspaces × pqSub dims, pqK codes, 2
    // unrolled exact-integer update rounds — the q_topk_ivf fit
    // discipline applied per subspace), encode = per-subspace argmin
    // with lowest-code ties, serve = ADC (per-query m×k distance
    // table, ascending-dimension and ascending-subspace double
    // folds). Mirrors Pq.boundedTrain + Pq.encode + Pq.adcTopK op
    // for op; pqRankedCteN is shared with the rerank row's shortlist.
    "q_topk_pq" -> topkPqSqlN(3),

    // ADC-shortlist + exact-lattice rerank — the standard production
    // PQ serving pattern (FAISS IVFPQ + refine): the compressed scan
    // proposes `shortlist` candidates per query, then ONLY those are
    // re-scored with the exact integer L2 on the full lattice
    // vectors. Mirrors Pq.adcRerankTopK.
    "q_topk_pq_rerank" -> topkPqRerankSqlN(3),

    // RESIDUAL IVFPQ: the PQ chain rides `rqt` — each vector's
    // ×8-lattice residual against its coarse centroid (×8 is a power
    // of two, so the scaling is EXACT in double and floor(x+0.5)
    // replays bit-identically). Distance tables are per
    // (query, probed cell) because the query's residual depends on
    // the cell. Mirrors Pq.boundedTrainResidual +
    // Pq.adcTopKIndexedResidual (saved serve is bit-identical).
    "q_topk_ivfpq_res" -> topkIvfpqResSqlN(3),

    // IVF+PQ composition (the FAISS IVFPQ shape): the coarse chain's
    // probe restricts the ADC scan to the 2 probed cells per query —
    // both fits replay from the SAME shared lattice/coarse/PQ CTEs
    // the standalone rows already hash-check. Mirrors
    // Pq.adcTopKProbed over Ivf.boundedIndex cells.
    "q_topk_ivfpq" -> topkIvfpqSqlN(3),

    // IVFPQ + refine: cell-pruned ADC shortlist, exact-lattice rerank
    // — FAISS's IndexRefineFlat over the saved inverted lists.
    // Mirrors Pq.adcTopKIndexed(PqRerankShortlist) -> Pq.exactRerank.
    "q_topk_ivfpq_rerank" -> topkIvfpqRerankSqlN(3),

    "q_quantize_int8" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings WHERE vec_id < 500
        |), qv AS (
        |  SELECT vec_id, maxabs,
        |         CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> 0)
        |              ELSE list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5) AS INTEGER))
        |         END AS q
        |  FROM base
        |), q0 AS (SELECT q AS q0 FROM qv WHERE vec_id = 0)
        |SELECT v.vec_id, v.maxabs,
        |       CAST(list_sum(v.q) AS BIGINT) AS qsum,
        |       CAST(list_sum(list_transform(v.q, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS qnorm2,
        |       CAST(list_min(v.q) AS INTEGER) AS qmin,
        |       CAST(list_max(v.q) AS INTEGER) AS qmax,
        |       CAST(list_sum(list_transform(generate_series(1, len(v.q)),
        |              i -> CAST(v.q[i] AS BIGINT) * z.q0[i])) AS BIGINT) AS dot_q0
        |FROM qv v CROSS JOIN q0 z ORDER BY v.vec_id""".stripMargin,

    // int8 first pass (exact integer dots) + float-cosine rerank of
    // the top-20 candidates
    "q_topk_int8_rerank" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings
        |), qv AS (
        |  SELECT vec_id, embedding,
        |         CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> 0)
        |              ELSE list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5) AS INTEGER))
        |         END AS q
        |  FROM base
        |), fs AS (
        |  SELECT z.vec_id AS query_id, c.vec_id,
        |         CAST(list_sum(list_transform(generate_series(1, len(c.q)),
        |                i -> CAST(c.q[i] AS BIGINT) * z.q[i])) AS BIGINT) AS iscore
        |  FROM qv c CROSS JOIN (SELECT vec_id, q FROM qv WHERE vec_id < 3) z
        |), top AS (
        |  SELECT query_id, vec_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY iscore DESC, vec_id) AS crank
        |  FROM fs
        |), rr AS (
        |  SELECT t.query_id, t.vec_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |           CAST(qe.embedding AS DOUBLE[])), 6) AS cos_sim
        |  FROM top t
        |  JOIN embeddings e ON e.vec_id = t.vec_id
        |  JOIN embeddings qe ON qe.vec_id = t.query_id
        |  WHERE t.crank <= 20
        |)
        |SELECT query_id, rank, vec_id, cos_sim FROM (
        |  SELECT query_id, vec_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
        |  FROM rr
        |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // MRL two-stage funnel: head-slice cosine shortlist, full-dim
    // rerank — both scores rounded before ranking, vec_id tiebreak
    "q_topk_mrl" ->
      """WITH hs AS (
        |  SELECT z.vec_id AS query_id, c.vec_id,
        |         round(list_cosine_similarity(CAST(c.embedding[1:16] AS DOUBLE[]),
        |           CAST(z.embedding[1:16] AS DOUBLE[])), 6) AS hscore
        |  FROM embeddings c
        |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) z
        |), top AS (
        |  SELECT query_id, vec_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY hscore DESC, vec_id) AS crank
        |  FROM hs
        |), rr AS (
        |  SELECT t.query_id, t.vec_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |           CAST(qe.embedding AS DOUBLE[])), 6) AS cos_sim
        |  FROM top t
        |  JOIN embeddings e ON e.vec_id = t.vec_id
        |  JOIN embeddings qe ON qe.vec_id = t.query_id
        |  WHERE t.crank <= 20
        |)
        |SELECT query_id, rank, vec_id, cos_sim FROM (
        |  SELECT query_id, vec_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
        |  FROM rr
        |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // per-stratum quotas on the same md5-bucket math; absent strata
    // (es, zh) threshold to 0 → dropped
    "q_sample_stratified" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) AS INTEGER) AS bucket,
         |         CASE lang WHEN 'en' THEN 32768 WHEN 'fr' THEN 16384
         |                   WHEN 'de' THEN 6554 ELSE 0 END AS thr
         |  FROM documents
         |)
         |SELECT doc_id, lang, bucket FROM b WHERE bucket < thr
         |ORDER BY doc_id""".stripMargin,

    // α=0.5 temperature mixing: integer microweights m=floor(√n·1e6)
    // sum exactly (order-free), weight/quota are one IEEE double op
    // each from exact ints, selection is md5-ranked per language
    "q_temperature_mix" ->
      """WITH src AS (
        |  SELECT lang, count(*) AS n_lang,
        |         CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS m
        |  FROM documents GROUP BY lang
        |), tot AS (SELECT CAST(sum(m) AS BIGINT) AS mm FROM src),
        |wq AS (
        |  SELECT lang, CAST(n_lang AS INTEGER) AS n_lang,
        |         round(CAST(m AS DOUBLE) / mm, 6) AS weight,
        |         CAST(floor((250.0 * m) / mm) AS INTEGER) AS quota
        |  FROM src, tot
        |), ranked AS (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY md5('mix|' || CAST(doc_id AS VARCHAR)), doc_id)
        |           AS INTEGER) AS rk
        |  FROM documents
        |)
        |SELECT r.doc_id, r.lang, w.n_lang, w.weight, w.quota, r.rk
        |FROM ranked r JOIN wq w USING (lang)
        |WHERE r.rk <= w.quota
        |ORDER BY r.lang, r.rk""".stripMargin,

    "q_lang_id" ->
      s"""WITH sc AS (
         |  SELECT doc_id, text,
         |    len(list_filter(regexp_extract_all(lower(text), '$RE'),
         |      t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS s_en,
         |    len(list_filter(regexp_extract_all(lower(text), '$RE'),
         |      t -> list_contains(['le','la','et','de','un','une','est','que','pour','dans'], t))) AS s_fr,
         |    len(list_filter(regexp_extract_all(lower(text), '$RE'),
         |      t -> list_contains(['el','la','y','de','un','una','es','que','por','en'], t))) AS s_es,
         |    len(list_filter(regexp_extract_all(lower(text), '$RE'),
         |      t -> list_contains(['der','die','das','und','ist','ein','eine','zu','den','von'], t))) AS s_de
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |       WHEN greatest(s_en, s_fr, s_es, s_de) > 0 THEN
         |         CASE WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
         |              WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
         |              WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
         |              ELSE 'de' END
         |       ELSE 'und' END AS pred_lang
         |FROM sc ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS DOUBLE) AS n_chars_d,
         |    CAST(len(regexp_extract_all(lower(text), '$RE')) AS DOUBLE) AS n_tokens,
         |    CAST(length(regexp_replace(text, '[A-Za-z0-9$WS]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
         |    CAST(len(list_filter(regexp_extract_all(lower(text), '$RE'),
         |      t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS DOUBLE) AS stop_hits
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, n_tokens, n_chars_d,
         |    punct / greatest(n_chars_d, 1.0) AS punct_raw,
         |    digits / greatest(n_chars_d, 1.0) AS digit_raw,
         |    stop_hits / greatest(n_tokens, 1.0) AS stop_raw
         |  FROM q
         |)
         |SELECT doc_id, n_tokens,
         |  round(punct_raw, 6) AS punct_ratio,
         |  round(digit_raw, 6) AS digit_ratio,
         |  round(stop_raw, 6) AS stopword_ratio,
         |  round(0.4 * least(n_chars_d / 200.0, 1.0)
         |      + 0.3 * least(stop_raw * 5, 1.0)
         |      + 0.2 * (1.0 - least(punct_raw * 10, 1.0))
         |      + 0.1 * (1.0 - least(digit_raw * 10, 1.0)), 6) AS quality
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '$RE')) AS INTEGER) AS n_tokens,
         |       n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    // textan.TextAnalysis.gopherRules replay: words are whitespace
    // runs (Gopher's notion), every count exact-integer, every ratio
    // the same int/int division — so the RAW-double threshold
    // comparisons in `pass` match Spark bit for bit; rounding is
    // display-only, applied after the comparisons like the engine
    "q_gopher_rules" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    regexp_extract_all(text, '[^$WS]+') AS words,
         |    str_split(text, chr(10)) AS lines,
         |    CAST(length(regexp_replace(text, '[^#]', '', 'g')) AS INTEGER)
         |      AS n_hash,
         |    CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS INTEGER)
         |      AS n_ell
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, n_hash, n_ell,
         |    CAST(len(words) AS INTEGER) AS n_words,
         |    CAST(len(lines) AS INTEGER) AS n_lines,
         |    CAST(COALESCE(list_sum(list_transform(words, x -> length(x))), 0)
         |      AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(lines, l ->
         |      list_contains(['-', '*', '•'], left(ltrim(l), 1))))
         |      AS INTEGER) AS n_bullet,
         |    CAST(len(list_filter(lines, l ->
         |      ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
         |      AS INTEGER) AS n_ellline,
         |    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
         |      AS INTEGER) AS n_alpha,
         |    CAST(len(list_filter(words, x ->
         |      list_contains(['the','be','to','of','and','that','have','with'],
         |        lower(x)))) AS INTEGER) AS n_stop
         |  FROM w
         |), r AS (
         |  SELECT doc_id, n_words, n_stop,
         |    CASE WHEN n_words = 0 THEN 0.0
         |         ELSE sum_len / CAST(n_words AS DOUBLE) END AS mean_raw,
         |    CASE WHEN n_words = 0 THEN 0.0
         |         ELSE (n_hash + n_ell) / CAST(n_words AS DOUBLE) END AS sym_raw,
         |    n_bullet / CAST(n_lines AS DOUBLE) AS bullet_raw,
         |    n_ellline / CAST(n_lines AS DOUBLE) AS ell_raw,
         |    CASE WHEN n_words = 0 THEN 0.0
         |         ELSE n_alpha / CAST(n_words AS DOUBLE) END AS alpha_raw
         |  FROM m
         |)
         |SELECT doc_id, n_words,
         |  round(mean_raw, 6) AS mean_word_len,
         |  round(sym_raw, 6) AS symbol_ratio,
         |  round(bullet_raw, 6) AS bullet_frac,
         |  round(ell_raw, 6) AS ellipsis_frac,
         |  round(alpha_raw, 6) AS alpha_frac,
         |  n_stop AS n_stop_hits,
         |  CAST(n_words >= 50 AND n_words <= 100000
         |    AND mean_raw >= 3.0 AND mean_raw <= 10.0
         |    AND sym_raw <= 0.1 AND bullet_raw <= 0.9 AND ell_raw <= 0.3
         |    AND alpha_raw >= 0.8 AND n_stop >= 2 AS INTEGER) AS pass
         |FROM r ORDER BY doc_id""".stripMargin,

    // BPE train+encode replay on the crafted corpus: two unrolled
    // merge rounds (pair-count -> argmax with the (-count, left,
    // right) tie rule; tuple-lex == lex on the space-joined pair
    // since ' ' sorts below every symbol char), encoding = ordered
    // replace on space-joined symbols (left-to-right non-overlapping,
    // same as the engine's applyMerge)
    // BPE over the REAL corpus, 8 unrolled merge rounds. Symbol
    // sequences are wrapped as ' s1  s2  ...  sn ' (double-space
    // separators, single-space padding): the round pattern
    // ' a  b ' -> ' ab ' consumes one space from each side run, so it
    // (1) can only match a true adjacent symbol pair — symbols
    // contain no spaces, so no cross-boundary false match exists for
    // ANY vocabulary — and (2) leaves the neighbour's boundary space
    // behind, making left-to-right non-overlapping replace() exactly
    // applyMerge (verified: 'a a a a' merges to 'aa aa', 'a a a' to
    // 'aa a'). Pair argmax ties: ORDER BY count DESC, 'a b' ASC ==
    // (-count, left, right) since ' ' sorts below every word char.
    "q_bpe_tokens" -> {
      // AS MATERIALIZED on every round CTE: each w_k references
      // w_{k-1} three times (the replace target and two argmax scalar
      // subqueries) — inlined, the 8-round chain expands ~3^8-fold
      def round(k: Int): String = {
        val prev = if (k == 1) "w0" else s"w${k - 1}"
        s"""p$k AS MATERIALIZED (
           |  SELECT pr, sum(c) AS pc FROM (
           |    SELECT c, unnest(list_transform(generate_series(1, len(sy) - 1),
           |      i -> sy[i] || ' ' || sy[i + 1])) AS pr
           |    FROM (SELECT c, string_split(trim(seq), '  ') AS sy FROM $prev)
           |  ) GROUP BY pr
           |), best$k AS MATERIALIZED (SELECT pr FROM p$k ORDER BY pc DESC, pr LIMIT 1
           |), w$k AS MATERIALIZED (
           |  SELECT w, c, coalesce(replace(seq,
           |      (SELECT ' ' || replace(pr, ' ', '  ') || ' ' FROM best$k),
           |      (SELECT ' ' || replace(pr, ' ', '') || ' ' FROM best$k)),
           |    seq) AS seq
           |  FROM $prev
           |)""".stripMargin
      }
      s"""WITH words AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(regexp_split_to_array(text, '[$WS]+')) AS w FROM documents)
         |  WHERE w <> ''
         |), wc AS (
         |  SELECT w, count(*) AS c FROM words GROUP BY w
         |), w0 AS MATERIALIZED (
         |  SELECT w, c, ' ' || array_to_string(list_transform(
         |    generate_series(1, length(w)), i -> substr(w, i, 1)), '  ') || ' ' AS seq
         |  FROM wc
         |), ${(1 to 8).map(round).mkString(",\n")}
         |, enc AS (
         |  SELECT w, CAST(len(string_split(trim(seq), '  ')) AS INTEGER) AS n_sub
         |  FROM w8
         |), mergestr AS (
         |  SELECT ${(1 to 8).map(k => s"(SELECT replace(pr, ' ', '+') FROM best$k)")
             .mkString(" || ',' || ")} AS merges
         |)
         |SELECT d.doc_id, CAST(sum(e.n_sub) AS INTEGER) AS n_bpe_tokens,
         |       CAST(len(regexp_extract_all(any_value(dd.text), '$RE')) AS INTEGER) AS n_regex_tokens,
         |       any_value(m.merges) AS merges
         |FROM words d
         |JOIN enc e ON d.w = e.w
         |JOIN documents dd ON dd.doc_id = d.doc_id
         |CROSS JOIN mergestr m
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    },

    // BPE encode under the COMMITTED merges.txt fixture
    // (BpeLite.fixtureMerges — the SAME parse both engines consume):
    // no training rounds, just the parsed pairs injected as a
    // rank-ordered replace chain over the double-space symbol
    // wrapping (see q_bpe_tokens above for why ' a  b ' -> ' ab '
    // equals applyMerge exactly for ANY vocabulary)
    "q_bpe_real_vocab" -> {
      val ms = graft.text.BpeLite.fixtureMerges
      require(ms.nonEmpty && ms.forall { case (a, b) =>
        (a + b).forall(_.isLetterOrDigit) },
        "fixture merge symbols must be SQL-literal safe")
      val chain = ms.foldLeft("seq") { case (acc, (a, b)) =>
        s"replace($acc, ' $a  $b ', ' $a$b ')" }
      val mergesStr = ms.map { case (a, b) => s"$a+$b" }.mkString(",")
      s"""WITH words AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(regexp_split_to_array(text, '[$WS]+')) AS w FROM documents)
         |  WHERE w <> ''
         |), wc AS (
         |  SELECT w FROM words GROUP BY w
         |), w0 AS (
         |  SELECT w, ' ' || array_to_string(list_transform(
         |    generate_series(1, length(w)), i -> substr(w, i, 1)), '  ') || ' ' AS seq
         |  FROM wc
         |), enc AS (
         |  SELECT w, CAST(len(string_split(trim($chain), '  ')) AS INTEGER) AS n_sub
         |  FROM w0
         |)
         |SELECT d.doc_id, CAST(sum(e.n_sub) AS INTEGER) AS n_bpe_tokens,
         |       CAST(len(regexp_extract_all(any_value(dd.text), '$RE')) AS INTEGER) AS n_regex_tokens,
         |       '$mergesStr' AS merges
         |FROM words d
         |JOIN enc e ON d.w = e.w
         |JOIN documents dd ON dd.doc_id = d.doc_id
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    },

    "q_bpe_crafted" ->
      """WITH docs(doc_id, text) AS (VALUES
        |  (CAST(1 AS BIGINT), 'aab ab aab cd'),
        |  (CAST(2 AS BIGINT), 'ab ab cd aab'),
        |  (CAST(3 AS BIGINT), 'aab bd')
        |), words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs
        |), wc AS (
        |  SELECT w, count(*) AS c FROM words GROUP BY w
        |), w0 AS (
        |  SELECT w, c, array_to_string(list_transform(
        |    generate_series(1, length(w)), i -> substr(w, i, 1)), ' ') AS seq
        |  FROM wc
        |), p1 AS (
        |  SELECT pr, sum(c) AS pc FROM (
        |    SELECT c, unnest(list_transform(
        |      generate_series(1, len(string_split(seq, ' ')) - 1),
        |      i -> string_split(seq, ' ')[i] || ' ' || string_split(seq, ' ')[i + 1]))
        |      AS pr
        |    FROM w0) GROUP BY pr
        |), best1 AS (SELECT pr FROM p1 ORDER BY pc DESC, pr LIMIT 1
        |), w1 AS (
        |  SELECT w, c, replace(seq, (SELECT pr FROM best1),
        |    replace((SELECT pr FROM best1), ' ', '')) AS seq
        |  FROM w0
        |), p2 AS (
        |  SELECT pr, sum(c) AS pc FROM (
        |    SELECT c, unnest(list_transform(
        |      generate_series(1, len(string_split(seq, ' ')) - 1),
        |      i -> string_split(seq, ' ')[i] || ' ' || string_split(seq, ' ')[i + 1]))
        |      AS pr
        |    FROM w1) GROUP BY pr
        |), best2 AS (SELECT pr FROM p2 ORDER BY pc DESC, pr LIMIT 1
        |), w2 AS (
        |  SELECT w, replace(seq, (SELECT pr FROM best2),
        |    replace((SELECT pr FROM best2), ' ', '')) AS seq
        |  FROM w1
        |), enc AS (
        |  SELECT w, len(string_split(seq, ' ')) AS n_sub FROM w2
        |)
        |SELECT d.doc_id, CAST(sum(e.n_sub) AS INTEGER) AS n_bpe_tokens,
        |       (SELECT replace(pr, ' ', '+') FROM best1) || ',' ||
        |       (SELECT replace(pr, ' ', '+') FROM best2) AS merges
        |FROM words d JOIN enc e ON d.w = e.w
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // Gopher-style repetition signals over token n-grams, n ∈ {2,3,4}
    // (the full MassiveText dup-n-gram family); docs with <n tokens
    // keep zeroed fractions for that n via the LEFT join + coalesce
    "q_repetition" -> {
      def gramBranch(n: Int): String = {
        val expr = (1 to n).map(j => s"ts[i + ${j - 1}]").mkString(" || ' ' || ")
        s"""SELECT doc_id, $n AS n,
           |         unnest(list_transform(generate_series(1, len(ts) - ${n - 1}),
           |           i -> $expr)) AS g
           |  FROM base WHERE n_tokens >= $n""".stripMargin
      }
      def fracCols(n: Int): String =
        s"""round(CAST(coalesce(a.dup_$n, 0) AS DOUBLE)
           |         / greatest(coalesce(a.total_$n, 0), 1), 6) AS dup_${n}gram_frac,
           |       round(CAST(coalesce(a.top_$n, 0) AS DOUBLE)
           |         / greatest(coalesce(a.total_$n, 0), 1), 6) AS top_${n}gram_frac""".stripMargin
      def aggCols(n: Int): String =
        s"""sum(CASE WHEN n = $n THEN cnt ELSE 0 END) AS total_$n,
           |         sum(CASE WHEN n = $n AND cnt > 1 THEN cnt ELSE 0 END) AS dup_$n,
           |         max(CASE WHEN n = $n THEN cnt END) AS top_$n""".stripMargin
      s"""WITH tk AS (
         |  SELECT doc_id, regexp_extract_all(text, '$RE') AS ts FROM documents
         |), base AS (
         |  SELECT doc_id, CAST(len(ts) AS INTEGER) AS n_tokens,
         |         CAST(len(list_distinct(ts)) AS INTEGER) AS n_distinct, ts
         |  FROM tk
         |), gr AS (
         |  ${gramBranch(2)}
         |  UNION ALL
         |  ${gramBranch(3)}
         |  UNION ALL
         |  ${gramBranch(4)}
         |), cnts AS (
         |  SELECT doc_id, n, g, count(*) AS cnt FROM gr GROUP BY 1, 2, 3
         |), agg AS (
         |  SELECT doc_id,
         |         ${aggCols(2)},
         |         ${aggCols(3)},
         |         ${aggCols(4)}
         |  FROM cnts GROUP BY 1
         |)
         |SELECT b.doc_id, b.n_tokens,
         |       round(CAST(b.n_distinct AS DOUBLE) / greatest(b.n_tokens, 1), 6)
         |         AS distinct_ratio,
         |       ${fracCols(2)},
         |       ${fracCols(3)},
         |       ${fracCols(4)}
         |FROM base b LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // the corpus keep/drop composition: lang CASE (q_lang_id), the
    // quality formula (q_quality_score), canonical flag from the
    // recursive-closure clustering (q_dup_clusters) — first failing
    // rule wins
    "q_corpus_filter" ->
      s"""${minhashCandCte.replaceFirst("WITH ", "WITH RECURSIVE ")}
         |, e AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION SELECT doc_b, doc_a FROM cand
         |), reach AS (
         |  SELECT a AS node, a AS x FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN e ON e.a = r.x
         |), comp AS (
         |  SELECT node, min(x) AS cluster_id FROM reach GROUP BY node
         |), canon AS (
         |  SELECT c.node AS doc_id,
         |         row_number() OVER (PARTITION BY c.cluster_id
         |           ORDER BY d.n_chars DESC, c.node) = 1 AS is_canonical
         |  FROM comp c JOIN documents d ON d.doc_id = c.node
         |), lsc AS (
         |  SELECT doc_id, text,
         |    len(list_filter(regexp_extract_all(lower(text), '$RE'),
         |      t2 -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t2))) AS s_en,
         |    len(list_filter(regexp_extract_all(lower(text), '$RE'),
         |      t2 -> list_contains(['le','la','et','de','un','une','est','que','pour','dans'], t2))) AS s_fr,
         |    len(list_filter(regexp_extract_all(lower(text), '$RE'),
         |      t2 -> list_contains(['el','la','y','de','un','una','es','que','por','en'], t2))) AS s_es,
         |    len(list_filter(regexp_extract_all(lower(text), '$RE'),
         |      t2 -> list_contains(['der','die','das','und','ist','ein','eine','zu','den','von'], t2))) AS s_de
         |  FROM documents
         |), lang AS (
         |  SELECT doc_id,
         |    CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |         WHEN greatest(s_en, s_fr, s_es, s_de) > 0 THEN
         |           CASE WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
         |                WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
         |                WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
         |                ELSE 'de' END
         |         ELSE 'und' END AS pred_lang
         |  FROM lsc
         |), qual0 AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS DOUBLE) AS n_chars_d,
         |    CAST(len(regexp_extract_all(lower(text), '$RE')) AS DOUBLE) AS n_tokens,
         |    CAST(length(regexp_replace(text, '[A-Za-z0-9$WS]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
         |    CAST(len(list_filter(regexp_extract_all(lower(text), '$RE'),
         |      t2 -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t2))) AS DOUBLE) AS stop_hits
         |  FROM documents
         |), qual AS (
         |  SELECT doc_id,
         |    round(0.4 * least(n_chars_d / 200.0, 1.0)
         |        + 0.3 * least(stop_hits / greatest(n_tokens, 1.0) * 5, 1.0)
         |        + 0.2 * (1.0 - least(punct / greatest(n_chars_d, 1.0) * 10, 1.0))
         |        + 0.1 * (1.0 - least(digits / greatest(n_chars_d, 1.0) * 10, 1.0)), 6) AS quality
         |  FROM qual0
         |), verdicts AS (
         |  SELECT d.doc_id, l.pred_lang, ql.quality,
         |         CASE WHEN l.pred_lang != 'en' THEN 'lang'
         |              WHEN ql.quality < 0.5 THEN 'quality'
         |              WHEN NOT coalesce(cn.is_canonical, TRUE) THEN 'duplicate'
         |              ELSE 'keep' END AS reason
         |  FROM documents d
         |  JOIN lang l ON l.doc_id = d.doc_id
         |  JOIN qual ql ON ql.doc_id = d.doc_id
         |  LEFT JOIN canon cn ON cn.doc_id = d.doc_id
         |)
         |SELECT doc_id, pred_lang, quality,
         |       CAST(reason = 'keep' AS INTEGER) AS keep, reason
         |FROM verdicts ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    // the watermark contract in closed form: watermark after the
    // on-time wave = max(on-time ts) - 1h; a late (event_id % 3 = 0)
    // row survives iff its hour-window END is strictly past that
    // watermark (Spark evicts windows with end <= watermark — the
    // StreamingSpec-pinned rule the engine's streaming replay obeys)
    "q_events_watermark" ->
      """WITH b1 AS (
        |  SELECT * FROM events WHERE event_id % 3 <> 0
        |), wm AS (
        |  SELECT max(ts) - INTERVAL 1 HOUR AS w FROM b1
        |), kept AS (
        |  SELECT ts, event_type, value FROM b1
        |  UNION ALL
        |  SELECT e.ts, e.event_type, e.value FROM events e, wm
        |  WHERE e.event_id % 3 = 0
        |    AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm.w
        |)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM kept GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q_events_sliding" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |         CAST(floor(epoch(ts)::DOUBLE / 1800) * 1800 AS BIGINT) AS half_hour
        |  FROM events
        |), w AS (
        |  SELECT event_type, value, half_hour - 1800 AS win_start_sec FROM e
        |  UNION ALL
        |  SELECT event_type, value, half_hour FROM e
        |)
        |SELECT strftime(to_timestamp(win_start_sec), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM w GROUP BY win_start_sec, event_type
        |ORDER BY win_start, event_type""".stripMargin,

    "q_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), s AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |                   OR epoch(ts)::BIGINT - epoch(prev_ts)::BIGINT > 1800
        |                 THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |), c AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM s
        |), g AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |         round(sum(value), 4) AS session_value
        |  FROM c GROUP BY 1, 2
        |)
        |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events,
        |       round(sum(session_value), 4) AS total_value
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // canonical chunk-JSON: both engines render the identical string
    // (explicit field order, int concat, backslash-first escapes)
    "q_chunk_json" ->
      s"""$chunkCte
         |, pc AS (
         |  SELECT 'simple' AS strategy, doc_id, chunk_index,
         |         '{"doc_id":' || doc_id || ',"id":' || chunk_index ||
         |         ',"text":"' ||
         |         replace(replace(replace(replace(replace(text,
         |           '\\', '\\\\'), '"', '\\"'), chr(10), '\\n'),
         |           chr(13), '\\r'), chr(9), '\\t') ||
         |         '","char_length":' || char_length ||
         |         ',"token_length":' || token_length || '}' AS piece
         |  FROM ch
         |)
         |SELECT strategy, count(*) AS chunk_count,
         |       '[' || string_agg(piece, ',' ORDER BY doc_id, chunk_index) || ']'
         |         AS chunks
         |FROM pc GROUP BY strategy ORDER BY strategy""".stripMargin,

    "q_union_dedup" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY doc_id) AS rn
        |  FROM (
        |    SELECT doc_id, source, n_chars FROM documents WHERE doc_id < 60
        |    UNION ALL
        |    SELECT doc_id, source, n_chars FROM documents
        |    WHERE doc_id >= 40 AND doc_id < 100
        |  )
        |) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_excluded_columns" ->
      """SELECT text, lang, source, n_chars FROM documents
        |ORDER BY source, n_chars, text""".stripMargin,

    "q_cardinality_gate" ->
      """SELECT "column", n_distinct, n_distinct < 15 AS categorical FROM (
        |  SELECT 'c_mktsegment' AS "column",
        |         count(DISTINCT c_mktsegment) AS n_distinct FROM customer
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(DISTINCT o_orderpriority) FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(DISTINCT o_custkey) FROM orders
        |) ORDER BY "column"""".stripMargin,

    "q_success_counts" ->
      """SELECT o_orderpriority,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |       CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
        |       count(*) AS n_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_mm_features" ->
      """SELECT doc_id AS asset_id, 'image/png' AS media_type,
        |       CAST(octet_length(encode(text)) AS INTEGER) AS byte_length,
        |       md5(text) AS checksum
        |FROM documents ORDER BY asset_id""".stripMargin,

    // real-codec replay: the crafted PNG pixel formula predicts every
    // decoded value (PNG lossless; grayscale lum = pixel value since
    // the ITU 601 weights sum to exactly 1000; NN resample index is
    // (x*srcW)//16). The grid is a bounded cross join filtered to each
    // asset's true dims (max w 16, max h 11 — version-portable, no
    // lateral table functions needed).
    // cross-modal image<->caption retrieval: the image side's decoded
    // embedding row and the caption side's parsed-dequantized tokens
    // are both predicted from the shared clipPixel formula (Spark
    // runs the REAL ImageIO decode and the REAL string parse); the
    // cosine/rank replay is q_topk_cosine's proven pattern, plus the
    // planted-pair recall@1 carried on every row
    "q_crossmodal_topk" -> {
      val n = graft.Queries.CrossModalN
      val dim = graft.multimodal.Multimodal.ClipDim
      s"""WITH ids AS (
         |  SELECT unnest(generate_series(0, ${n - 1})) AS id
         |), xs AS (
         |  SELECT unnest(generate_series(0, ${dim - 1})) AS x
         |), ev AS (
         |  SELECT id, x,
         |         (id*131 + x*79 + id*x*57 + id*x*x*23) % 256 AS e
         |  FROM ids CROSS JOIN xs
         |), img AS (
         |  SELECT id AS vec_id, list(CAST(e AS DOUBLE) ORDER BY x) AS emb
         |  FROM ev GROUP BY id
         |), cap AS (
         |  SELECT id AS query_id,
         |         list(CAST((e // 4) * 4 + 2 AS DOUBLE) ORDER BY x) AS qe
         |  FROM ev GROUP BY id
         |), sc AS (
         |  SELECT c.query_id, i.vec_id,
         |         round(list_cosine_similarity(i.emb, c.qe), 6) AS cos_sim
         |  FROM img i CROSS JOIN cap c
         |), r AS (
         |  SELECT query_id, vec_id, cos_sim,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
         |  FROM sc
         |), top AS (
         |  SELECT query_id, rank, vec_id, cos_sim,
         |         CAST(CASE WHEN rank = 1 AND vec_id = query_id
         |              THEN 1 ELSE 0 END AS INTEGER) AS hit
         |  FROM r WHERE rank <= 3
         |), tot AS (
         |  SELECT CAST(sum(hit) AS INTEGER) AS total_hit FROM top
         |)
         |SELECT t.query_id, t.rank, t.vec_id, t.cos_sim, t.hit,
         |       round(CAST(o.total_hit AS DOUBLE) / $n, 4) AS recall_at_1
         |FROM top t CROSS JOIN tot o
         |ORDER BY t.query_id, t.rank""".stripMargin
    },

    // cross-modal pair curation: the planted wrong-alt-text pairs
    // (id = 4 mod 5 takes the next id's caption) score ~0.9 against
    // ~0.9999 for true pairs; the 0.999 gate keeps exactly the
    // matches — both vector sides predicted from the shared
    // clipPixel formula, cosine replay as in q_crossmodal_topk
    "q_crossmodal_curation" -> {
      val n = graft.Queries.CrossModalN
      val dim = graft.multimodal.Multimodal.ClipDim
      s"""WITH ids AS (
         |  SELECT unnest(generate_series(0, ${n - 1})) AS id
         |), xs AS (
         |  SELECT unnest(generate_series(0, ${dim - 1})) AS x
         |), ev AS (
         |  SELECT id, x,
         |         (id*131 + x*79 + id*x*57 + id*x*x*23) % 256 AS e
         |  FROM ids CROSS JOIN xs
         |), img AS (
         |  SELECT id AS vec_id, list(CAST(e AS DOUBLE) ORDER BY x) AS emb
         |  FROM ev GROUP BY id
         |), cap AS (
         |  SELECT id AS caption_id,
         |         list(CAST((e // 4) * 4 + 2 AS DOUBLE) ORDER BY x) AS qe
         |  FROM ev GROUP BY id
         |), pairs AS (
         |  SELECT vec_id AS pair_id,
         |         CASE WHEN vec_id % 5 = 4 THEN (vec_id + 1) % $n
         |              ELSE vec_id END AS caption_id,
         |         emb
         |  FROM img
         |), sc AS (
         |  SELECT p.pair_id, p.caption_id,
         |         round(list_cosine_similarity(p.emb, c.qe), 6) AS cos_sim
         |  FROM pairs p JOIN cap c ON c.caption_id = p.caption_id
         |)
         |SELECT pair_id, caption_id, cos_sim,
         |       CAST(CASE WHEN cos_sim >= 0.999 THEN 1 ELSE 0 END AS INTEGER)
         |         AS kept
         |FROM sc ORDER BY pair_id""".stripMargin
    },

    // the composed multimodal materialization: pair gate (planted
    // wrong-alt-text noise at the wide n), per-IVF-cell quota (the
    // shared bounded-fit replay chain provides a3), seeded shard
    // shuffle, per-shard caption-length offsets — q_training_mix's
    // replay discipline over the cross-modal machines
    "q_crossmodal_mix" -> {
      val n = graft.Queries.CrossModalServeN
      val dim = graft.multimodal.Multimodal.ClipDim
      s"""WITH ${clipFixtureCte(n, dim)}
         |, $qvtCte
         |, ${ivfCoarseCteN(n, seedSql = "8", nProbe = 2, dim = dim)}
         |, cap AS MATERIALIZED (
         |  SELECT id AS caption_id,
         |         'photo ' || CAST(id AS VARCHAR) || ' tones ' ||
         |           array_to_string(list(CAST(e // 4 AS VARCHAR) ORDER BY x), ' ')
         |           AS caption,
         |         list(CAST((e // 4) * 4 + 2 AS DOUBLE) ORDER BY x) AS qe
         |  FROM ev GROUP BY id
         |), pairs AS (
         |  SELECT e.vec_id AS pair_id, e.embedding, a.cell,
         |         CASE WHEN e.vec_id % 5 = 4 THEN (e.vec_id + 1) % $n
         |              ELSE e.vec_id END AS caption_id
         |  FROM emb e JOIN a3 a ON a.vec_id = e.vec_id
         |), gated AS (
         |  SELECT pair_id, caption_id, cell, cos_sim,
         |         CAST(strlen(caption) AS INTEGER) AS n_chars
         |  FROM (
         |    SELECT p.pair_id, p.caption_id, p.cell, c.caption,
         |           round(list_cosine_similarity(p.embedding, c.qe), 6) AS cos_sim
         |    FROM pairs p JOIN cap c USING (caption_id))
         |  WHERE cos_sim >= 0.999
         |), quota AS (
         |  SELECT pair_id, caption_id, cell, cos_sim, n_chars FROM (
         |    SELECT pair_id, caption_id, cell, cos_sim, n_chars,
         |           row_number() OVER (PARTITION BY cell
         |             ORDER BY cos_sim DESC, pair_id) AS rq
         |    FROM gated) WHERE rq <= 12
         |), keyed AS (
         |  SELECT pair_id, caption_id, cell, cos_sim, n_chars,
         |         CAST('0x' || substr(md5('xmix-11|' || CAST(pair_id AS VARCHAR)), 1, 15) AS BIGINT) AS hkey
         |  FROM quota
         |)
         |SELECT pair_id, caption_id, cell, cos_sim,
         |       CAST(hkey % 4 AS INTEGER) AS shard,
         |       CAST(row_number() OVER (PARTITION BY hkey % 4
         |         ORDER BY hkey, pair_id) AS INTEGER) AS pos_in_shard,
         |       n_chars,
         |       CAST(coalesce(sum(n_chars) OVER (PARTITION BY hkey % 4
         |         ORDER BY hkey, pair_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |         AS BIGINT) AS char_offset
         |FROM keyed ORDER BY shard, pos_in_shard""".stripMargin
    },

    // cross-modal retrieval on the COMPRESSED serve: the dim-8 clip
    // lattice trains 4x2x8 codebooks (shared pqCodebookCte geometry
    // param), caption lattices ADC-scan probed cells' codes, the
    // shortlist refines on the exact integer lattice — the IVFPQ +
    // refine replay at cross-modal geometry
    "q_crossmodal_pq" -> {
      val n = graft.Queries.CrossModalServeN
      val dim = graft.multimodal.Multimodal.ClipDim
      val m = graft.Queries.XmPqM
      val sub = dim / m
      val k = graft.Queries.XmPqK
      val sl = graft.Queries.XmPqShortlist
      s"""WITH ${clipFixtureCte(n, dim)}
         |, $qvtCte
         |, ${ivfCoarseCteN(n, seedSql = "8", nProbe = 2, dim = dim,
              qsSql = Some(clipCaptionQs))}
         |, ${pqCodebookCte("qvt", (m, sub, k))}
         |, capq AS MATERIALIZED (
         |  SELECT query_id,
         |         CASE WHEN mq = 0 THEN list_transform(qe, x -> 0)
         |              ELSE list_transform(qe,
         |                x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / mq) + 0.5) AS INTEGER))
         |         END AS qq
         |  FROM (SELECT query_id, qe,
         |          list_max(list_transform(qe, x -> abs(CAST(x AS DOUBLE)))) AS mq
         |        FROM qs)
         |), dt AS MATERIALIZED (
         |  SELECT q.query_id, c.s, c.code,
         |         list_sum(list_transform(generate_series(1, $sub),
         |           j -> (CAST(q.qq[(c.s - 1) * $sub + j] AS DOUBLE) - c.cent[j])
         |              * (CAST(q.qq[(c.s - 1) * $sub + j] AS DOUBLE) - c.cent[j]))) AS d
         |  FROM capq q CROSS JOIN cb2 c
         |), ipsc AS MATERIALIZED (
         |  SELECT p.query_id, a.vec_id,
         |         round(list_sum(list(d.d ORDER BY d.s)), 6) AS adc_dist
         |  FROM probe p
         |  JOIN a3 a USING (cell)
         |  JOIN enc e ON e.vec_id = a.vec_id
         |  JOIN dt d ON d.query_id = p.query_id
         |    AND d.s = e.s AND d.code = e.code
         |  GROUP BY p.query_id, a.vec_id
         |), isl AS MATERIALIZED (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY adc_dist, vec_id) AS rank
         |    FROM ipsc)
         |  WHERE rank <= $sl
         |), rr AS MATERIALIZED (
         |  SELECT i.query_id, i.vec_id,
         |         list_sum(list_transform(generate_series(1, $dim),
         |           x -> CAST(q.qq[x] - v.qv[x] AS BIGINT) * (q.qq[x] - v.qv[x]))) AS l2
         |  FROM isl i
         |  JOIN qvt v ON v.vec_id = i.vec_id
         |  JOIN capq q ON q.query_id = i.query_id
         |), top AS MATERIALIZED (
         |  SELECT query_id, rank, vec_id, l2_dist,
         |         CAST(CASE WHEN rank = 1 AND vec_id = query_id
         |              THEN 1 ELSE 0 END AS INTEGER) AS hit
         |  FROM (
         |    SELECT query_id, vec_id, CAST(l2 AS BIGINT) AS l2_dist,
         |           CAST(row_number() OVER (PARTITION BY query_id
         |             ORDER BY l2, vec_id) AS INTEGER) AS rank
         |    FROM rr) WHERE rank <= 3
         |), tot AS (
         |  SELECT CAST(sum(hit) AS INTEGER) AS total_hit FROM top
         |)
         |SELECT t.query_id, t.rank, t.vec_id, t.l2_dist, t.hit,
         |       round(CAST(o.total_hit AS DOUBLE) / $n, 4) AS recall_at_1
         |FROM top t CROSS JOIN tot o
         |ORDER BY t.query_id, t.rank""".stripMargin
    },

    // cross-modal retrieval on the SAVED IVF serve: image vectors
    // (clipPixel formula) run the shared bounded-fit replay chain at
    // dim = 8 (seed 8 cells from vec_id < 8, two exact-integer
    // update rounds, float-cast centroids), caption vectors
    // ((e // 4) * 4 + 2) probe 2 cells, and the fine cosine ranks
    // only probed-cell candidates — the same chain Ivf
    // .ensureSavedBoundedIndex + topKIndexed serve from disk
    "q_crossmodal_indexed" -> {
      val n = graft.Queries.CrossModalServeN
      val dim = graft.multimodal.Multimodal.ClipDim
      s"""WITH ${clipFixtureCte(n, dim)}
         |, $qvtCte
         |, ${ivfCoarseCteN(n, seedSql = "8", nProbe = 2, dim = dim,
              qsSql = Some(clipCaptionQs))}
         |, fine AS (
         |  SELECT p.query_id, a.vec_id,
         |         round(list_cosine_similarity(e.embedding, q.qe), 6) AS cos_sim
         |  FROM probe p
         |  JOIN a3 a USING (cell)
         |  JOIN emb e ON e.vec_id = a.vec_id
         |  JOIN qs q ON q.query_id = p.query_id
         |), top AS MATERIALIZED (
         |  SELECT query_id, rank, vec_id, cos_sim,
         |         CAST(CASE WHEN rank = 1 AND vec_id = query_id
         |              THEN 1 ELSE 0 END AS INTEGER) AS hit
         |  FROM (
         |    SELECT query_id, vec_id, cos_sim,
         |           CAST(row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
         |    FROM fine) WHERE rank <= 3
         |), tot AS (
         |  SELECT CAST(sum(hit) AS INTEGER) AS total_hit FROM top
         |)
         |SELECT t.query_id, t.rank, t.vec_id, t.cos_sim, t.hit,
         |       round(CAST(o.total_hit AS DOUBLE) / $n, 4) AS recall_at_1
         |FROM top t CROSS JOIN tot o
         |ORDER BY t.query_id, t.rank""".stripMargin
    },

    // perceptual-hash image near-dup: every decoded luminance is
    // predicted from the crafted gray-pixel formula (grayscale ITU
    // luminance == the pixel value), then the 8x8 nearest-neighbor
    // aHash, 16-bit band keys, band-join candidates and the 64-bit
    // hamming confirm replay in pure integer SQL
    "q_mm_phash" ->
      """WITH ids AS (
        |  SELECT unnest(generate_series(0, 39)) AS asset_id
        |  UNION ALL
        |  SELECT unnest(generate_series(1000, 1039)) AS asset_id
        |), geom AS (
        |  SELECT asset_id,
        |         CASE WHEN asset_id >= 1000 THEN asset_id - 1000 ELSE asset_id END AS base,
        |         CASE WHEN asset_id >= 1000 THEN 1 ELSE 0 END AS isvar
        |  FROM ids
        |), cells AS (
        |  SELECT g.asset_id, k.k,
        |         CAST((k.k % 8) * (8 + g.base % 9) // 8 AS INTEGER) AS x,
        |         CAST((k.k // 8) * (5 + g.base % 7) // 8 AS INTEGER) AS y,
        |         g.base, g.isvar
        |  FROM geom g CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) k
        |), lv AS (
        |  SELECT asset_id, k,
        |         CASE WHEN isvar = 1 AND x = 0 AND y = 0
        |              THEN ((x * 7 + y * 13 + base * 31) % 256 + 1) % 256
        |              ELSE (x * 7 + y * 13 + base * 31) % 256 END AS lum
        |  FROM cells
        |), tot AS (SELECT asset_id, sum(lum) AS total FROM lv GROUP BY 1
        |), bits AS (
        |  SELECT l.asset_id, l.k,
        |         CASE WHEN 64 * l.lum >= t.total THEN 1 ELSE 0 END AS bit
        |  FROM lv l JOIN tot t USING (asset_id)
        |), bk AS (
        |  SELECT asset_id, CAST(k // 16 AS INTEGER) AS band_idx,
        |         CAST(sum(bit * (1 << (k % 16))) AS INTEGER) AS key
        |  FROM bits GROUP BY 1, 2
        |), pairs AS (
        |  SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b
        |  FROM bk a JOIN bk b ON a.band_idx = b.band_idx AND a.key = b.key
        |    AND a.asset_id < b.asset_id
        |), sig AS (
        |  SELECT asset_id, list(key ORDER BY band_idx) AS ks FROM bk GROUP BY 1
        |)
        |SELECT id_a, id_b, hamming FROM (
        |  SELECT p.id_a, p.id_b,
        |         CAST(bit_count(xor(sa.ks[1], sb.ks[1]))
        |            + bit_count(xor(sa.ks[2], sb.ks[2]))
        |            + bit_count(xor(sa.ks[3], sb.ks[3]))
        |            + bit_count(xor(sa.ks[4], sb.ks[4])) AS INTEGER) AS hamming
        |  FROM pairs p
        |  JOIN sig sa ON sa.asset_id = p.id_a
        |  JOIN sig sb ON sb.asset_id = p.id_b
        |) WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,

    // audio-fingerprint near-dup: decoded samples predicted from the
    // crafted formula (one-sample +1 click on the 1000+id variants),
    // 64-frame integer energies, 63 delta bits, 4 band keys, band
    // equi-join candidates, hamming <= 3 confirm — all integer
    "q_mm_afp" ->
      """WITH ids AS (
        |  SELECT unnest(generate_series(0, 29)) AS asset_id
        |  UNION ALL
        |  SELECT unnest(generate_series(1000, 1029)) AS asset_id
        |), dims AS (
        |  SELECT asset_id,
        |         CASE WHEN asset_id >= 1000 THEN 1 ELSE 0 END AS isvar,
        |         160 + (CASE WHEN asset_id >= 1000 THEN asset_id - 1000 ELSE asset_id END % 5) * 40 AS n,
        |         257 + (CASE WHEN asset_id >= 1000 THEN asset_id - 1000 ELSE asset_id END % 13) * 97 AS k
        |  FROM ids
        |), px AS (
        |  SELECT d.asset_id,
        |         ((i.i * d.k) % 65536) - 32768
        |           + CASE WHEN d.isvar = 1 AND i.i = 5 THEN 1 ELSE 0 END AS s,
        |         CAST((i.i * 64) // d.n AS INTEGER) AS f
        |  FROM dims d CROSS JOIN (SELECT unnest(generate_series(0, 319)) AS i) i
        |  WHERE i.i < d.n
        |), en AS (
        |  SELECT asset_id, f, sum(CAST(s AS BIGINT) * s) AS e
        |  FROM px GROUP BY 1, 2
        |), bits AS (
        |  SELECT a.asset_id, a.f,
        |         CASE WHEN a.e >= b.e THEN 1 ELSE 0 END AS bit
        |  FROM en a JOIN en b ON b.asset_id = a.asset_id AND b.f = a.f + 1
        |  WHERE a.f < 63
        |), bk AS (
        |  SELECT asset_id, CAST(f // 16 AS INTEGER) AS band_idx,
        |         CAST(sum(bit * (1 << (f % 16))) AS INTEGER) AS key
        |  FROM bits GROUP BY 1, 2
        |), pairs AS (
        |  SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b
        |  FROM bk a JOIN bk b ON a.band_idx = b.band_idx AND a.key = b.key
        |    AND a.asset_id < b.asset_id
        |), sig AS (
        |  SELECT asset_id, list(key ORDER BY band_idx) AS ks FROM bk GROUP BY 1
        |)
        |SELECT id_a, id_b, hamming FROM (
        |  SELECT p.id_a, p.id_b,
        |         CAST(bit_count(xor(sa.ks[1], sb.ks[1]))
        |            + bit_count(xor(sa.ks[2], sb.ks[2]))
        |            + bit_count(xor(sa.ks[3], sb.ks[3]))
        |            + bit_count(xor(sa.ks[4], sb.ks[4])) AS INTEGER) AS hamming
        |  FROM pairs p
        |  JOIN sig sa ON sa.asset_id = p.id_a
        |  JOIN sig sb ON sb.asset_id = p.id_b
        |) WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,

    "q_mm_decode" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 47)) AS asset_id),
        |dims AS (
        |  SELECT asset_id, CAST(8 + asset_id % 9 AS INTEGER) AS w,
        |         CAST(5 + asset_id % 7 AS INTEGER) AS h
        |  FROM ids),
        |xs AS (SELECT unnest(generate_series(0, 16)) AS x),
        |ys AS (SELECT unnest(generate_series(0, 11)) AS y),
        |px AS (
        |  SELECT d.asset_id, d.w, d.h, xs.x, ys.y,
        |         (xs.x * 7 + ys.y * 13 + d.asset_id * 31) % 256 AS v
        |  FROM dims d CROSS JOIN xs CROSS JOIN ys
        |  WHERE xs.x < d.w AND ys.y < d.h),
        |hist AS (
        |  SELECT asset_id, w, h,
        |         CAST(count(*) AS INTEGER) AS n_pixels,
        |         CAST(sum(v) AS BIGINT) AS lum_sum,
        |         CAST(sum(CASE WHEN v // 32 = 0 THEN 1 ELSE 0 END) AS INTEGER) AS h0,
        |         CAST(sum(CASE WHEN v // 32 = 1 THEN 1 ELSE 0 END) AS INTEGER) AS h1,
        |         CAST(sum(CASE WHEN v // 32 = 2 THEN 1 ELSE 0 END) AS INTEGER) AS h2,
        |         CAST(sum(CASE WHEN v // 32 = 3 THEN 1 ELSE 0 END) AS INTEGER) AS h3,
        |         CAST(sum(CASE WHEN v // 32 = 4 THEN 1 ELSE 0 END) AS INTEGER) AS h4,
        |         CAST(sum(CASE WHEN v // 32 = 5 THEN 1 ELSE 0 END) AS INTEGER) AS h5,
        |         CAST(sum(CASE WHEN v // 32 = 6 THEN 1 ELSE 0 END) AS INTEGER) AS h6,
        |         CAST(sum(CASE WHEN v // 32 = 7 THEN 1 ELSE 0 END) AS INTEGER) AS h7
        |  FROM px GROUP BY 1, 2, 3),
        |rxs AS (SELECT unnest(generate_series(0, 15)) AS x),
        |rys AS (SELECT unnest(generate_series(0, 15)) AS y),
        |rpx AS (
        |  SELECT d.asset_id,
        |         ((r1.x * d.w // 16) * 7 + (r2.y * d.h // 16) * 13
        |           + d.asset_id * 31) % 256 AS v
        |  FROM dims d CROSS JOIN rxs r1 CROSS JOIN rys r2),
        |ragg AS (
        |  SELECT asset_id, CAST(16 AS INTEGER) AS r_width,
        |         CAST(16 AS INTEGER) AS r_height,
        |         CAST(sum(v) AS BIGINT) AS r_lum_sum
        |  FROM rpx GROUP BY 1)
        |SELECT h.asset_id, h.w AS width, h.h AS height, h.n_pixels, h.lum_sum,
        |       h.h0, h.h1, h.h2, h.h3, h.h4, h.h5, h.h6, h.h7,
        |       r.r_width, r.r_height, r.r_lum_sum
        |FROM hist h JOIN ragg r USING (asset_id)
        |ORDER BY h.asset_id""".stripMargin,

    // real multi-frame replay: the GIF round-trip is lossless on the
    // explicit gray palette, so the per-frame pixel formula predicts
    // dims and luminance exactly (grayscale lum = pixel value)
    "q_mm_video" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 23)) AS asset_id),
        |dims AS (
        |  SELECT asset_id,
        |         CAST(2 + asset_id % 3 AS INTEGER) AS n_frames,
        |         CAST(8 + asset_id % 5 AS INTEGER) AS w,
        |         CAST(4 + asset_id % 4 AS INTEGER) AS h
        |  FROM ids),
        |fs AS (SELECT unnest(generate_series(0, 3)) AS f),
        |xs AS (SELECT unnest(generate_series(0, 11)) AS x),
        |ys AS (SELECT unnest(generate_series(0, 6)) AS y),
        |px AS (
        |  SELECT d.asset_id, d.n_frames, d.w, d.h, fs.f,
        |         (xs.x * 7 + ys.y * 13 + fs.f * 31 + d.asset_id * 17) % 256 AS v
        |  FROM dims d CROSS JOIN fs CROSS JOIN xs CROSS JOIN ys
        |  WHERE fs.f < d.n_frames AND xs.x < d.w AND ys.y < d.h)
        |SELECT asset_id, CAST(f AS INTEGER) AS frame_no, n_frames,
        |       w AS width, h AS height, CAST(sum(v) AS BIGINT) AS lum_sum
        |FROM px GROUP BY asset_id, f, n_frames, w, h
        |ORDER BY asset_id, frame_no""".stripMargin,

    // real-audio replay: PCM is lossless and every statistic integer,
    // so the sample formula predicts the decoded values exactly
    "q_mm_audio" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 29)) AS asset_id),
        |dims AS (
        |  SELECT asset_id, CAST(160 + (asset_id % 5) * 40 AS INTEGER) AS n,
        |         257 + (asset_id % 13) * 97 AS k
        |  FROM ids),
        |idx AS (SELECT unnest(generate_series(0, 319)) AS i),
        |px AS (
        |  SELECT d.asset_id, idx.i,
        |         ((idx.i * d.k) % 65536) - 32768 AS s,
        |         CASE WHEN idx.i > 0
        |              THEN (((idx.i - 1) * d.k) % 65536) - 32768 END AS sp
        |  FROM dims d CROSS JOIN idx WHERE idx.i < d.n)
        |SELECT asset_id, CAST(8000 AS INTEGER) AS sample_rate,
        |       CAST(count(*) AS INTEGER) AS n_samples,
        |       CAST(sum(s) AS BIGINT) AS s_sum,
        |       CAST(min(s) AS INTEGER) AS s_min,
        |       CAST(max(s) AS INTEGER) AS s_max,
        |       CAST(sum(CASE WHEN i > 0 AND ((s >= 0) <> (sp >= 0))
        |                THEN 1 ELSE 0 END) AS INTEGER) AS zero_cross
        |FROM px GROUP BY asset_id ORDER BY asset_id""".stripMargin,

    "q_chunk_locate" ->
      s"""$chunkCte
         |SELECT ch.doc_id, chunk_index, start,
         |       CAST(strpos(d.text, ch.text) AS INTEGER) AS found_pos,
         |       strpos(d.text, ch.text) <= start + 1 AND strpos(d.text, ch.text) > 0
         |         AS found_at_or_before_start
         |FROM ch JOIN documents d ON ch.doc_id = d.doc_id
         |ORDER BY ch.doc_id, chunk_index""".stripMargin,

    "q_chunk_occurrences" ->
      s"""$chunkCte
         |, pc AS (
         |  SELECT * FROM (
         |    SELECT doc_id, chunk_index,
         |           CASE WHEN doc_id % 7 = 0 THEN text || chr(1) ELSE text END AS text
         |    FROM ch
         |  ) WHERE length(text) > 0  -- empty-needle guard, mirrors the engine
         |), j AS (
         |  SELECT pc.doc_id, pc.chunk_index, pc.text, d.text AS doc_text,
         |         CAST(length(pc.text) AS INTEGER) AS clen
         |  FROM pc JOIN documents d ON pc.doc_id = d.doc_id
         |), pos AS (
         |  SELECT doc_id, chunk_index, clen, text, doc_text,
         |         CASE WHEN CAST(length(doc_text) AS INTEGER) - clen + 1 >= 1
         |              THEN list_filter(generate_series(1, CAST(length(doc_text) AS INTEGER) - clen + 1),
         |                     p -> substr(doc_text, p, clen) = text)
         |              ELSE [] END AS positions
         |  FROM j
         |), fl AS (
         |  SELECT *, max(CASE WHEN len(positions) > 0 THEN 1 ELSE 0 END)
         |              OVER (PARTITION BY doc_id) = 1 AS doc_has_exact
         |  FROM pos
         |), ex AS (
         |  SELECT doc_id, chunk_index, CAST(unnest(positions) AS INTEGER) AS start_pos,
         |         clen, 'exact' AS match_type
         |  FROM fl WHERE doc_has_exact
         |), fz AS (
         |  SELECT doc_id, chunk_index,
         |         CAST(strpos(doc_text, substr(text, 1, 30)) AS INTEGER) AS start_pos,
         |         clen, 'fuzzy' AS match_type
         |  FROM fl
         |  WHERE NOT doc_has_exact AND clen > 30
         |    AND strpos(doc_text, substr(text, 1, 30)) > 0
         |)
         |SELECT doc_id, chunk_index, start_pos,
         |       CAST(start_pos + clen AS INTEGER) AS end_pos, match_type
         |FROM (SELECT * FROM ex UNION ALL SELECT * FROM fz)
         |ORDER BY doc_id, start_pos, chunk_index""".stripMargin,

    // Recursive-chunker replay: fragment on '\n\n' (separator stays
    // attached to the preceding piece), then walk the greedy merge as
    // a recursive CTE. For a fragment f, tokens-before-f is
    // tokcum - toks, so the budget test S(hi) - S(lo-1) <= B needs no
    // extra lookup; the overlap backup is "smallest b in (lo, hi]
    // whose trailing token sum fits the overlap", else hi + 1.
    // recursive chunker corpus-wide on derived multi-paragraph docs
    // (25 groups of fixture texts joined by "\n\n"; fixture texts have
    // no newlines, so pieces == source texts with the separator
    // attached): the crafted row's split/merge/overlap recursive-CTE
    // replay, per group
    "q_chunk_recursive" ->
      s"""WITH RECURSIVE base AS (
         |  SELECT CAST(doc_id % 25 AS BIGINT) AS gid, doc_id, text FROM documents
         |), g AS (
         |  SELECT gid, CAST(count(*) AS INTEGER) AS npieces FROM base GROUP BY gid
         |), doc AS (
         |  SELECT gid, string_agg(text, e'\\n\\n' ORDER BY doc_id) AS text
         |  FROM base GROUP BY gid
         |), f AS (
         |  SELECT gid,
         |         CAST(row_number() OVER (PARTITION BY gid ORDER BY doc_id) AS INTEGER) AS fi,
         |         text || CASE WHEN row_number() OVER (PARTITION BY gid ORDER BY doc_id)
         |                        < count(*) OVER (PARTITION BY gid)
         |                      THEN e'\\n\\n' ELSE '' END AS ftext
         |  FROM base
         |), fcum AS (
         |  SELECT gid, fi, ftext,
         |         CAST(len(regexp_extract_all(ftext, '$RE')) AS INTEGER) AS toks,
         |         CAST(length(ftext) AS INTEGER) AS flen,
         |         CAST(coalesce(sum(length(ftext)) OVER (PARTITION BY gid ORDER BY fi
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS fstart,
         |         CAST(sum(len(regexp_extract_all(ftext, '$RE')))
         |           OVER (PARTITION BY gid ORDER BY fi) AS INTEGER) AS tokcum
         |  FROM f
         |), lohi AS (
         |  SELECT l.gid, l.fi AS lo,
         |         CAST(greatest(l.fi, coalesce((SELECT max(h.fi) FROM fcum h
         |           WHERE h.gid = l.gid AND h.fi >= l.fi
         |             AND h.tokcum - (l.tokcum - l.toks) <= 400), l.fi)) AS INTEGER) AS hi
         |  FROM fcum l
         |), nxt AS (
         |  SELECT lh.gid, lh.lo, lh.hi,
         |         CAST(greatest(coalesce(
         |           (SELECT min(b.fi) FROM fcum b JOIN fcum h
         |              ON h.gid = lh.gid AND h.fi = lh.hi
         |            WHERE b.gid = lh.gid AND b.fi > lh.lo AND b.fi <= lh.hi
         |              AND h.tokcum - (b.tokcum - b.toks) <= 50),
         |           lh.hi + 1), lh.lo + 1) AS INTEGER) AS next_lo
         |  FROM lohi lh
         |), steps AS (
         |  SELECT gid, CAST(0 AS INTEGER) AS chunk_index, CAST(1 AS INTEGER) AS lo FROM g
         |  UNION ALL
         |  SELECT s.gid, s.chunk_index + 1, n.next_lo
         |  FROM steps s
         |  JOIN nxt n ON n.gid = s.gid AND n.lo = s.lo
         |  JOIN g ON g.gid = s.gid
         |  WHERE n.hi < g.npieces
         |)
         |SELECT s.gid AS doc_id, 'group-' || CAST(s.gid AS VARCHAR) AS source,
         |       s.chunk_index,
         |       substr(d.text, lf.fstart + 1, (hf.fstart + hf.flen) - lf.fstart) AS text,
         |       lf.fstart AS start, hf.fstart + hf.flen AS "end",
         |       CAST((hf.fstart + hf.flen) - lf.fstart AS INTEGER) AS char_length,
         |       CAST(len(regexp_extract_all(substr(d.text, lf.fstart + 1,
         |         (hf.fstart + hf.flen) - lf.fstart), '$RE')) AS INTEGER) AS token_length,
         |       'recursive' AS strategy
         |FROM steps s
         |JOIN nxt n ON n.gid = s.gid AND n.lo = s.lo
         |JOIN fcum lf ON lf.gid = s.gid AND lf.fi = s.lo
         |JOIN fcum hf ON hf.gid = s.gid AND hf.fi = n.hi
         |JOIN doc d ON d.gid = s.gid
         |ORDER BY doc_id, chunk_index""".stripMargin,

    "q_chunk_recursive_crafted" ->
      s"""WITH RECURSIVE doc AS (
         |  SELECT string_agg('p' || i || repeat(' w', (i * 7) % 5 + 1), e'\\n\\n' ORDER BY i) AS text
         |  FROM range(1, 13) t(i)
         |), sp AS (
         |  SELECT text, string_split(text, e'\\n\\n') AS pieces FROM doc
         |), fidx AS (
         |  SELECT CAST(unnest(generate_series(1, len(pieces))) AS INTEGER) AS fi, pieces FROM sp
         |), f AS (
         |  SELECT fi, pieces[fi] || CASE WHEN fi < len(pieces) THEN e'\\n\\n' ELSE '' END AS ftext
         |  FROM fidx
         |), fcum AS (
         |  SELECT fi, ftext,
         |         CAST(len(regexp_extract_all(ftext, '$RE')) AS INTEGER) AS toks,
         |         CAST(length(ftext) AS INTEGER) AS flen,
         |         CAST(coalesce(sum(length(ftext)) OVER (ORDER BY fi
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS fstart,
         |         CAST(sum(len(regexp_extract_all(ftext, '$RE'))) OVER (ORDER BY fi) AS INTEGER) AS tokcum
         |  FROM f
         |), lohi AS (
         |  SELECT l.fi AS lo,
         |         CAST(greatest(l.fi, coalesce((SELECT max(h.fi) FROM fcum h
         |           WHERE h.fi >= l.fi AND h.tokcum - (l.tokcum - l.toks) <= 10), l.fi)) AS INTEGER) AS hi
         |  FROM fcum l
         |), nxt AS (
         |  SELECT lh.lo, lh.hi,
         |         CAST(greatest(coalesce(
         |           (SELECT min(b.fi) FROM fcum b JOIN fcum h ON h.fi = lh.hi
         |            WHERE b.fi > lh.lo AND b.fi <= lh.hi
         |              AND h.tokcum - (b.tokcum - b.toks) <= 3),
         |           lh.hi + 1), lh.lo + 1) AS INTEGER) AS next_lo
         |  FROM lohi lh
         |), steps AS (
         |  SELECT CAST(0 AS INTEGER) AS chunk_index, CAST(1 AS INTEGER) AS lo
         |  UNION ALL
         |  SELECT s.chunk_index + 1, n.next_lo
         |  FROM steps s JOIN nxt n ON n.lo = s.lo
         |  WHERE n.hi < (SELECT max(fi) FROM fcum)
         |)
         |SELECT CAST(1 AS BIGINT) AS doc_id, s.chunk_index,
         |       substr(d.text, lf.fstart + 1, (hf.fstart + hf.flen) - lf.fstart) AS text,
         |       lf.fstart AS start, hf.fstart + hf.flen AS "end",
         |       CAST((hf.fstart + hf.flen) - lf.fstart AS INTEGER) AS char_length,
         |       CAST(len(regexp_extract_all(
         |         substr(d.text, lf.fstart + 1, (hf.fstart + hf.flen) - lf.fstart), '$RE')) AS INTEGER) AS token_length
         |FROM steps s
         |JOIN nxt n ON n.lo = s.lo
         |JOIN fcum lf ON lf.fi = s.lo
         |JOIN fcum hf ON hf.fi = n.hi
         |CROSS JOIN doc d
         |ORDER BY chunk_index""".stripMargin,

    // Semantic-chunker replay on the crafted topic-cluster doc
    // (Queries.semanticCraftedParas, shared so the document is
    // byte-identical). Each 3-token paragraph exactly fills the
    // min-split budget, so pieces == paragraphs; embeddings are
    // integer lattice counts (bucket = first 8 md5 hex chars % 8 —
    // same bucketing as HashingEmbedder), so dot/norm² are exact
    // integers and dist = 1 − dot/(√na·√nb) is bit-identical to the
    // engine's double. Threshold: smallest grid point t·(2/4096) with
    // #(dists in bins ≥ t) ≤ max(0, Σtoks // avg − nDocs) — the
    // engine's one-pass histogram selection verbatim. Breaks when the
    // PRECEDING gap exceeds the threshold (lag), running-sum segment
    // ids, then min/max merge + re-slice from the document.
    // semantic chunker CORPUS-WIDE with lattice embeddings: fixture
    // words are single tokens, so the min-split (budget 10, overlap 0)
    // is exactly 10-word blocks; piece embeddings are md5-bucket word
    // counts (exact ints), adjacent distances exact-integer derived,
    // the histogram threshold replays the engine's one-pass selection
    // corpus-wide (bins 4096 over [0,2], target = totalToks // 25 −
    // nDocs), then lag-break → running-sum segments → min/max merge
    "q_chunk_semantic_corpus" -> semanticCorpusSql(block = 10, dim = 8, avg = 25),

    // the PRODUCTION semantic row: since r8 the chunker derives its
    // adjacent distances from the PRE-normalization integer counts of
    // HashingEmbedder(64) (cosine is scale-invariant — no breakpoint
    // moves), so the same corpus replay applies at the reference's
    // params: min-split budget 50 → 50-word blocks on this fixture,
    // 64 md5 buckets, avg 300
    "q_chunk_semantic" -> semanticCorpusSql(block = 50, dim = 64, avg = 300),

    "q_chunk_semantic_crafted" -> {
      val n = Queries.semanticCraftedParas.length
      val values = Queries.semanticCraftedParas.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, '$p')" }.mkString(", ")
      s"""WITH paras(i, ptext) AS (
         |  VALUES $values
         |), doc AS (
         |  SELECT string_agg(ptext, e'\\n\\n' ORDER BY i) AS text FROM paras
         |), p AS (
         |  SELECT i AS pi,
         |         ptext || CASE WHEN i < $n THEN e'\\n\\n' ELSE '' END AS ptxt
         |  FROM paras
         |), pc AS (
         |  SELECT pi, ptxt,
         |         CAST(coalesce(sum(length(ptxt)) OVER (ORDER BY pi
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS pstart,
         |         CAST(sum(length(ptxt)) OVER (ORDER BY pi) AS INTEGER) AS pend,
         |         CAST(len(regexp_extract_all(ptxt, '$RE')) AS INTEGER) AS toks
         |  FROM p
         |), tb AS (
         |  SELECT pi, CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 8 AS INTEGER) AS bucket
         |  FROM (SELECT pi, unnest(regexp_extract_all(ptxt, '$RE')) AS t FROM p)
         |), cnt AS (
         |  SELECT pi, bucket, CAST(count(*) AS BIGINT) AS c FROM tb GROUP BY 1, 2
         |), n2 AS (
         |  SELECT pi, CAST(sum(c * c) AS BIGINT) AS nn FROM cnt GROUP BY 1
         |), dt AS (
         |  SELECT a.pi, CAST(sum(a.c * b.c) AS BIGINT) AS dot
         |  FROM cnt a JOIN cnt b ON b.pi = a.pi + 1 AND b.bucket = a.bucket
         |  GROUP BY 1
         |), dists AS (
         |  SELECT pc.pi, pc.pstart, pc.pend, pc.toks,
         |         CASE WHEN pc.pi < $n THEN
         |           1.0 - coalesce(dt.dot, 0) / (sqrt(na.nn) * sqrt(nb.nn))
         |         END AS dist
         |  FROM pc
         |  LEFT JOIN dt ON dt.pi = pc.pi
         |  JOIN n2 na ON na.pi = pc.pi
         |  LEFT JOIN n2 nb ON nb.pi = pc.pi + 1
         |), tgt AS (
         |  SELECT greatest(0, (SELECT sum(toks) FROM pc) // 6
         |                  - (SELECT count(*) FROM dists WHERE dist IS NULL)) AS target
         |), thr AS (
         |  SELECT min(ts.t) * (2.0 / 4096) AS threshold
         |  FROM (SELECT unnest(generate_series(0, 4096)) AS t) ts
         |  WHERE (SELECT count(*) FROM dists
         |         WHERE dist IS NOT NULL
         |           AND CAST(greatest(least(floor(dist / (2.0 / 4096)), 4095), 0) AS INTEGER) >= ts.t)
         |        <= (SELECT target FROM tgt)
         |), brk AS (
         |  SELECT pi, pstart, pend,
         |         CASE WHEN lag(dist) OVER (ORDER BY pi) > (SELECT threshold FROM thr)
         |              THEN 1 ELSE 0 END AS b
         |  FROM dists
         |), seg AS (
         |  SELECT pi, pstart, pend,
         |         sum(b) OVER (ORDER BY pi ROWS UNBOUNDED PRECEDING) AS segment
         |  FROM brk
         |), m AS (
         |  SELECT segment, min(pstart) AS mstart, max(pend) AS mend
         |  FROM seg GROUP BY 1
         |)
         |SELECT CAST(1 AS BIGINT) AS doc_id, 'crafted' AS source,
         |       CAST(m.segment AS INTEGER) AS chunk_index,
         |       substr(d.text, m.mstart + 1, m.mend - m.mstart) AS text,
         |       m.mstart AS start, m.mend AS "end",
         |       CAST(length(substr(d.text, m.mstart + 1, m.mend - m.mstart)) AS INTEGER) AS char_length,
         |       CAST(len(regexp_extract_all(
         |         substr(d.text, m.mstart + 1, m.mend - m.mstart), '$RE')) AS INTEGER) AS token_length,
         |       'semantic' AS strategy
         |FROM m CROSS JOIN doc d
         |ORDER BY chunk_index""".stripMargin
    },

    "q_text_overlap_pairs" ->
      s"""$chunkCte
         |, p AS (
         |  SELECT a.doc_id, a.chunk_index AS i, b.chunk_index AS j,
         |         a.text AS ta, b.text AS tb
         |  FROM ch a JOIN ch b ON a.doc_id = b.doc_id AND a.chunk_index < b.chunk_index
         |    AND b.chunk_index - a.chunk_index <= 64
         |), s AS (
         |  SELECT doc_id, i, j,
         |         greatest(
         |           coalesce(list_aggregate(list_filter(
         |             generate_series(1, least(length(ta), length(tb))),
         |             l -> substr(ta, length(ta) - l + 1, l) = substr(tb, 1, l)), 'max'), 0),
         |           coalesce(list_aggregate(list_filter(
         |             generate_series(1, least(length(ta), length(tb))),
         |             l -> substr(tb, length(tb) - l + 1, l) = substr(ta, 1, l)), 'max'), 0)
         |         ) AS max_overlap
         |  FROM p
         |)
         |SELECT doc_id, i, j, CAST(max_overlap AS INTEGER) AS max_overlap
         |FROM s WHERE max_overlap > 10 ORDER BY doc_id, i, j""".stripMargin,

    "q_ocr_nested" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(n_chars // 2 AS INTEGER) AS half,
        |         CAST(n_chars AS INTEGER) AS n
        |  FROM documents WHERE n_chars >= 2
        |), p AS (
        |  SELECT doc_id, 0 AS page_no, substr(text, 1, half) AS page_text FROM d
        |  UNION ALL
        |  SELECT doc_id, 1, substr(text, half + 1, n - half) FROM d
        |), pn AS (
        |  SELECT doc_id, page_no, page_text,
        |         CAST((doc_id + page_no) % 3 AS INTEGER) AS n_imgs
        |  FROM p
        |), im AS (
        |  SELECT doc_id, page_no, page_text,
        |         CAST(unnest(generate_series(1, n_imgs)) AS INTEGER) AS i
        |  FROM pn WHERE n_imgs >= 1
        |), jo AS (
        |  SELECT pn.doc_id, pn.page_no, pn.n_imgs, im.i,
        |         'img-' || pn.doc_id || '-' || pn.page_no || '-' || im.i AS img_id,
        |         CASE WHEN im.i % 2 = 1 THEN 'data:image/png;base64,' ELSE '' END
        |           || to_base64(encode(substr(im.page_text, im.i, 16))) AS img_b64
        |  FROM pn LEFT JOIN im ON pn.doc_id = im.doc_id AND pn.page_no = im.page_no
        |)
        |SELECT doc_id, page_no, n_imgs, CAST(i - 1 AS INTEGER) AS img_idx,
        |       img_id,
        |       CAST(img_b64 LIKE 'data:%' AS INTEGER) AS had_data_uri,
        |       CAST(length(decode(from_base64(
        |         regexp_replace(img_b64, '^data:[^,]*,', '')))) AS INTEGER) AS payload_len
        |FROM jo ORDER BY doc_id, page_no, img_idx""".stripMargin,

    "q_positional_zip" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(row_number() OVER (ORDER BY o_orderkey) AS INTEGER) AS rn
        |  FROM orders WHERE o_orderkey < 100
        |), c AS (
        |  SELECT c_custkey, CAST(row_number() OVER (ORDER BY c_custkey) AS INTEGER) AS rn
        |  FROM customer WHERE c_custkey < 100
        |)
        |SELECT o.rn AS rn, o_orderkey, c_custkey FROM o JOIN c USING (rn)
        |ORDER BY rn""".stripMargin,

    // flagship RAG pipeline END TO END: fixed chunk → id upsert
    // (first occurrence by doc_id, chunk_index) → lattice embed
    // (md5-bucket counts, dim 8) → exact-integer cosine vs 3 literal
    // queries → top-5 per query (cos DESC, doc_id, chunk_index) →
    // cited context. All dot/norm² values are exact BIGINTs, so the
    // derived doubles — and hence the ranking — are bit-identical to
    // the Spark side's
    "q_rag_e2e" ->
      s"""$chunkCte
         |, ids AS (
         |  SELECT doc_id, source, chunk_index, text,
         |         source || '_chunk_' || CAST(chunk_index AS VARCHAR) AS id
         |  FROM ch
         |  QUALIFY row_number() OVER (
         |    PARTITION BY source || '_chunk_' || CAST(chunk_index AS VARCHAR)
         |    ORDER BY doc_id, chunk_index) = 1
         |), cb AS (
         |  SELECT doc_id, chunk_index,
         |         CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 8 AS INTEGER) AS bucket
         |  FROM (SELECT doc_id, chunk_index,
         |               unnest(regexp_extract_all(text, '$RE')) AS t FROM ids)
         |), cnt AS (
         |  SELECT doc_id, chunk_index, bucket, CAST(count(*) AS BIGINT) AS c
         |  FROM cb GROUP BY 1, 2, 3
         |), cn AS (
         |  SELECT doc_id, chunk_index, CAST(sum(c * c) AS BIGINT) AS nn
         |  FROM cnt GROUP BY 1, 2
         |), q AS (
         |  SELECT * FROM (VALUES (CAST(0 AS INTEGER), 'join hash window stream'),
         |                        (CAST(1 AS INTEGER), 'sort merge filter vector'),
         |                        (CAST(2 AS INTEGER), 'spark query scan batch'))
         |    AS v(query_id, qtext)
         |), qb AS (
         |  SELECT query_id,
         |         CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 8 AS INTEGER) AS bucket
         |  FROM (SELECT query_id,
         |               unnest(regexp_extract_all(qtext, '$RE')) AS t FROM q)
         |), qc AS (
         |  SELECT query_id, bucket, CAST(count(*) AS BIGINT) AS c
         |  FROM qb GROUP BY 1, 2
         |), qn AS (
         |  SELECT query_id, CAST(sum(c * c) AS BIGINT) AS nn FROM qc GROUP BY 1
         |), dt AS (
         |  SELECT b.query_id, a.doc_id, a.chunk_index,
         |         CAST(sum(a.c * b.c) AS BIGINT) AS dot
         |  FROM cnt a JOIN qc b USING (bucket) GROUP BY 1, 2, 3
         |), scored AS (
         |  SELECT q.query_id, i.doc_id, i.chunk_index, i.source, i.text,
         |         CAST(coalesce(dt.dot, 0) AS DOUBLE)
         |           / (sqrt(cn.nn) * sqrt(qn.nn)) AS cos
         |  FROM ids i CROSS JOIN q
         |  JOIN cn ON cn.doc_id = i.doc_id AND cn.chunk_index = i.chunk_index
         |  JOIN qn ON qn.query_id = q.query_id
         |  LEFT JOIN dt ON dt.query_id = q.query_id
         |    AND dt.doc_id = i.doc_id AND dt.chunk_index = i.chunk_index
         |), r AS (
         |  SELECT query_id, source, text,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos DESC, doc_id, chunk_index) AS INTEGER) AS rank
         |  FROM scored
         |)
         |SELECT query_id,
         |       string_agg('Source [' || CAST(rank AS VARCHAR) || '] (' || source
         |                  || '): ' || text, e'\\n\\n' ORDER BY rank) AS context
         |FROM r WHERE rank <= 5 GROUP BY query_id ORDER BY query_id""".stripMargin,

    // hybrid flagship: the q_rag_e2e store (first-wins upsert),
    // enumerated by row_number over id (== the distributed prefix
    // sum), then dense lattice-cosine and BM25-over-chunks candidate
    // lists at depth 10, RRF-fused (1/(60+rank), round 6), top-5,
    // cited context
    "q_rag_e2e_hybrid" ->
      s"""$chunkCte
         |, ids AS (
         |  SELECT doc_id, source, chunk_index, text,
         |         source || '_chunk_' || CAST(chunk_index AS VARCHAR) AS id
         |  FROM ch
         |  QUALIFY row_number() OVER (
         |    PARTITION BY source || '_chunk_' || CAST(chunk_index AS VARCHAR)
         |    ORDER BY doc_id, chunk_index) = 1
         |), st AS (
         |  SELECT doc_id, source, chunk_index, text, id,
         |         row_number() OVER (ORDER BY id) - 1 AS vec_id
         |  FROM ids
         |), cb AS (
         |  SELECT vec_id,
         |         CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 8 AS INTEGER) AS bucket
         |  FROM (SELECT vec_id, unnest(regexp_extract_all(text, '$RE')) AS t FROM st)
         |), cnt AS (
         |  SELECT vec_id, bucket, CAST(count(*) AS BIGINT) AS c FROM cb GROUP BY 1, 2
         |), cn AS (
         |  SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS nn FROM cnt GROUP BY 1
         |), q AS (
         |  SELECT * FROM (VALUES (CAST(0 AS INTEGER), 'join hash window stream'),
         |                        (CAST(1 AS INTEGER), 'sort merge filter vector'),
         |                        (CAST(2 AS INTEGER), 'spark query scan batch'))
         |    AS v(query_id, qtext)
         |), qb AS (
         |  SELECT query_id,
         |         CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 8 AS INTEGER) AS bucket
         |  FROM (SELECT query_id, unnest(regexp_extract_all(qtext, '$RE')) AS t FROM q)
         |), qc AS (
         |  SELECT query_id, bucket, CAST(count(*) AS BIGINT) AS c FROM qb GROUP BY 1, 2
         |), qn AS (
         |  SELECT query_id, CAST(sum(c * c) AS BIGINT) AS nn FROM qc GROUP BY 1
         |), dt AS (
         |  SELECT b.query_id, a.vec_id, CAST(sum(a.c * b.c) AS BIGINT) AS dot
         |  FROM cnt a JOIN qc b USING (bucket) GROUP BY 1, 2
         |), dsc AS (
         |  SELECT q.query_id, s.vec_id,
         |         CAST(coalesce(dt.dot, 0) AS DOUBLE)
         |           / (sqrt(cn.nn) * sqrt(qn.nn)) AS cos
         |  FROM st s CROSS JOIN q
         |  JOIN cn ON cn.vec_id = s.vec_id
         |  JOIN qn ON qn.query_id = q.query_id
         |  LEFT JOIN dt ON dt.query_id = q.query_id AND dt.vec_id = s.vec_id
         |), dr AS (
         |  SELECT query_id, vec_id, rn AS rank FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, vec_id) AS rn
         |    FROM dsc) WHERE rn <= 10
         |), p0 AS (
         |  SELECT vec_id AS doc_id, unnest(regexp_extract_all(lower(text), '$RE')) AS term
         |  FROM st
         |), postings AS (
         |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM p0 GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY 1
         |), stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
         |), dfreq AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM postings GROUP BY 1
         |), qt AS (
         |  SELECT DISTINCT query_id, term FROM (
         |    SELECT query_id, unnest(regexp_extract_all(lower(qtext), '$RE')) AS term FROM q)
         |), lsc AS (
         |  SELECT qt.query_id, p.doc_id,
         |         round(sum(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5)) *
         |           (p.tf * (1.2 + 1.0) /
         |            (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)))), 6) AS score
         |  FROM postings p
         |  JOIN qt ON p.term = qt.term
         |  JOIN dfreq f ON f.term = p.term
         |  JOIN dl d ON d.doc_id = p.doc_id
         |  CROSS JOIN stats s
         |  GROUP BY 1, 2
         |), lr AS (
         |  SELECT query_id, doc_id, rn AS rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY score DESC, doc_id) AS rn
         |    FROM lsc) WHERE rn <= 10
         |), pooled AS (
         |  SELECT query_id, vec_id AS doc_id, 1.0 / (60.0 + rank) AS contrib FROM dr
         |  UNION ALL
         |  SELECT query_id, doc_id, 1.0 / (60.0 + rank) FROM lr
         |), fused AS (
         |  SELECT query_id, doc_id, round(sum(contrib), 6) AS rrf
         |  FROM pooled GROUP BY 1, 2
         |), fr AS (
         |  SELECT query_id, doc_id, rn AS rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY rrf DESC, doc_id) AS rn
         |    FROM fused) WHERE rn <= 5
         |)
         |SELECT fr.query_id,
         |       string_agg('Source [' || CAST(fr.rank AS VARCHAR) || '] (' || s.source
         |                  || '): ' || s.text, e'\\n\\n' ORDER BY fr.rank) AS context
         |FROM fr JOIN st s ON s.vec_id = fr.doc_id
         |GROUP BY fr.query_id ORDER BY fr.query_id""".stripMargin,

    // SAVED-SERVE flagship (q_rag_e2e_hybrid with the brute dense
    // list replaced by the saved-IVF serve): the same store /
    // enumeration / BM25 / RRF / context CTEs, plus the store's
    // dense dim-8 lattice (emb), its int8 quantization (qvt), the
    // SHARED bounded-k-means fit + probe chain (ivfCoarseCteN at
    // dim 8, nProbe 2 — verbatim the q_topk_ivf replay), and the
    // cell-pruned fine search on exact-integer dot/norm² values.
    // Dense candidates at depth 10 come only from each query's 2
    // probed cells — the oracle replays the IVF approximation (and
    // its misses) exactly. The chain through the two candidate lists
    // (`dr` = IVF dense, `lr` = BM25) is shared verbatim with the
    // q_rag_fusion_overlap eval row via [[ragIndexedChainCte]].
    "q_rag_e2e_indexed" ->
      s"""$ragIndexedChainCte
         |, pooled AS (
         |  SELECT query_id, vec_id AS doc_id, 1.0 / (60.0 + rank) AS contrib FROM dr
         |  UNION ALL
         |  SELECT query_id, doc_id, 1.0 / (60.0 + rank) FROM lr
         |), fused AS (
         |  SELECT query_id, doc_id, round(sum(contrib), 6) AS rrf
         |  FROM pooled GROUP BY 1, 2
         |), fr AS (
         |  SELECT query_id, doc_id, rn AS rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY rrf DESC, doc_id) AS rn
         |    FROM fused) WHERE rn <= 5
         |)
         |SELECT fr.query_id,
         |       string_agg('Source [' || CAST(fr.rank AS VARCHAR) || '] (' || s.source
         |                  || '): ' || s.text, e'\\n\\n' ORDER BY fr.rank) AS context
         |FROM fr JOIN st s ON s.vec_id = fr.doc_id
         |GROUP BY fr.query_id ORDER BY fr.query_id""".stripMargin,

    // Fusion-robustness eval of the saved-serve flagship: the shared
    // chain's IVF dense list (dr) and BM25 list (lr), PLUS the brute
    // dense list (dsc/drb — q_rag_e2e_hybrid's exact-integer cosine
    // chain verbatim), fused separately by the same RRF; the indexed
    // fusion's top-5 annotated with membership in the exact fusion's
    // top-5 and the per-query overlap fraction.
    "q_rag_fusion_overlap" -> (
      ragIndexedChainCte + "\n" + ragExactFusionCte + "\n" +
      s"""|, pooledi AS (
         |  SELECT query_id, vec_id AS doc_id, 1.0 / (60.0 + rank) AS contrib FROM dr
         |  UNION ALL
         |  SELECT query_id, doc_id, 1.0 / (60.0 + rank) FROM lr
         |), fusedi AS (
         |  SELECT query_id, doc_id, round(sum(contrib), 6) AS rrf
         |  FROM pooledi GROUP BY 1, 2
         |), fri AS MATERIALIZED (
         |  SELECT query_id, doc_id, CAST(rn AS INTEGER) AS rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY rrf DESC, doc_id) AS rn
         |    FROM fusedi) WHERE rn <= 5
         |), annotated AS (
         |  SELECT i.query_id, i.rank, i.doc_id,
         |         CAST(b.doc_id IS NOT NULL AS INTEGER) AS in_exact
         |  FROM fri i LEFT JOIN frb b
         |    ON b.query_id = i.query_id AND b.doc_id = i.doc_id
         |)
         |SELECT query_id, rank, doc_id, in_exact,
         |       round(CAST(sum(in_exact) OVER (PARTITION BY query_id) AS DOUBLE)
         |             / 5.0, 4) AS overlap_at_5
         |FROM annotated
         |ORDER BY query_id, rank""".stripMargin),

    // The fusion curve: the same base chain at an EXHAUSTIVE
    // keepRank=true probe (nProbe 8 == nCells), sliced per depth of
    // the shared ladder — each depth's fine search / ranking / RRF
    // fusion is the serve chain's text verbatim over `crank <= p`,
    // counted against the exact fusion (frb).
    "q_rag_fusion_curve" -> (
      ragBaseCte(nProbe = 8, keepRank = true) + "\n" +
      ragExactFusionCte + "\n" +
      graft.Queries.IvfpqProbeLadder.map(ragFusionCurveDepthCte)
        .mkString("\n") + "\n" +
      s"""|, tot AS (SELECT CAST(count(*) AS INTEGER) AS total_k FROM frb)
         |SELECT n_probe, total_overlap, total_k,
         |       round(CAST(total_overlap AS DOUBLE) / total_k, 4) AS mean_overlap
         |FROM (${graft.Queries.IvfpqProbeLadder
                   .map(p => s"SELECT * FROM row$p")
                   .mkString(" UNION ALL ")})
         |CROSS JOIN tot
         |ORDER BY n_probe""".stripMargin),

    "q_context_assembly" ->
      s"""$chunkCte
         |, r AS (
         |  SELECT doc_id, source, chunk_index, text,
         |         CAST(row_number() OVER (PARTITION BY doc_id
         |           ORDER BY char_length DESC, chunk_index) AS INTEGER) AS rank
         |  FROM ch
         |)
         |SELECT doc_id,
         |       string_agg('Source [' || rank || '] (' || source || '): ' || text,
         |                  e'\\n\\n' ORDER BY rank) AS context
         |FROM r WHERE rank <= 3 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ocr_flatten" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(n_chars // 2 AS INTEGER) AS half,
        |         CAST(n_chars AS INTEGER) AS n
        |  FROM documents WHERE n_chars >= 2
        |), p AS (
        |  SELECT doc_id, 0 AS page_no, substr(text, 1, half) AS page_text FROM d
        |  UNION ALL
        |  SELECT doc_id, 1, substr(text, half + 1, n - half) FROM d
        |), i AS (
        |  SELECT doc_id, page_no, page_text,
        |         'img-' || doc_id || '-' || page_no ||
        |           CASE WHEN page_no = 0 THEN '.png' ELSE '' END AS image_id
        |  FROM p
        |), w AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY doc_id, page_no) AS INTEGER) AS img_seq,
        |         coalesce(nullif(regexp_extract(image_id, '(\.[^.]+)$', 1), ''), '.jpeg') AS ext
        |  FROM i
        |)
        |SELECT doc_id, page_no, image_id, img_seq, ext,
        |       'doc_img_' || img_seq || ext AS img_file,
        |       replace('![' || image_id || '](' || image_id || ') ' || page_text,
        |               '![' || image_id || '](' || image_id || ')',
        |               '![' || image_id || '](/images/' || 'doc_img_' || img_seq || ext || ')')
        |         AS markdown_rewritten,
        |       decode(from_base64(regexp_replace(
        |         'data:image/png;base64,' || to_base64(encode(page_text)),
        |         '^data:[^,]*,', ''))) = page_text AS payload_ok
        |FROM w ORDER BY doc_id, page_no""".stripMargin,

    "q_mm_frames" ->
      """WITH f AS (
        |  SELECT doc_id AS asset_id, text,
        |         CAST(unnest(generate_series(0,
        |           greatest(CAST(octet_length(encode(text)) AS INTEGER) - 1, 0), 64)) AS INTEGER) AS frame_off
        |  FROM documents
        |)
        |SELECT asset_id, frame_off, substr(text, frame_off + 1, 16) AS frame_text
        |FROM f ORDER BY asset_id, frame_off""".stripMargin
  )

  /** The separator-snapped cut of [[graft.text.chunk.DocSplit]] at
    * (maxChars 120, lookback 40), as a SQL expression in the running
    * position `p` over doc columns `d.text` / `d.n`. Mirrors
    * `cutOffsets` operation for operation: hard bound at p + 120,
    * snap window w = text[p+80, p+120) (greatest(p+1, hard−40) =
    * p+80 at these params), LAST occurrence of the highest-priority
    * separator wins via reverse+strpos — for a match of length len
    * at reversed position rp, the cut (end-exclusive, after the
    * separator) is hard − rp + 1 (len cancels) — and no separator in
    * the window means a hard cut. */
  private def docSplitCut(p: String): String = {
    val hard = s"($p + 120)"
    val w = s"substr(d.text, $p + 81, 40)"
    def snap(sepSql: String): String =
      s"CASE WHEN strpos(reverse($w), reverse($sepSql)) > 0 " +
        s"THEN $hard - strpos(reverse($w), reverse($sepSql)) + 1 END"
    val seps = Seq("e'\\n\\n'", "e'\\n'", "'.'", "'?'", "'!'", "' '")
    s"CASE WHEN $p + 120 >= d.n THEN d.n " +
      s"ELSE coalesce(${seps.map(snap).mkString(", ")}, $p + 120) END"
  }

  /** Catalog oracle SQL. Composed rows (the ANN recall evaluation)
    * embed constituent oracles as derived tables, so the truth and
    * approx rankings replay from EXACTLY the SQL the driver already
    * hash-checks for those rows. q_chunk_recursive_split shares
    * q_chunk_recursive's oracle VERBATIM: below the 1 Mchar split
    * threshold the split-then-chunk composition is bit-identical to
    * the unsplit chunker, and every fixture group document is far
    * below it. */
  val sql: Map[String, String] = base ++ Map(
    "q_chunk_recursive_split" -> base("q_chunk_recursive"),
    // corpus datacard: grouped volumes over the hash-checked quality
    // replay; the mean is the integer-microunit reduction (exact sum,
    // one division) so it is order-free in both engines
    "q_datacard" ->
      s"""WITH q AS (${base("q_quality_score")}),
         |d AS (
         |  SELECT doc.lang, doc.source, doc.n_chars, q.n_tokens,
         |         CAST(floor(q.quality * 1000000.0 + 0.5) AS BIGINT) AS qm
         |  FROM q JOIN documents doc ON doc.doc_id = q.doc_id
         |), g AS (
         |  SELECT lang, source, count(*) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |         CAST(sum(qm) AS BIGINT) AS sqm
         |  FROM d GROUP BY 1, 2
         |), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM g)
         |SELECT lang, source, n_docs, total_tokens, total_chars,
         |       round(CAST(sqm AS DOUBLE) / 1000000.0 / n_docs, 6) AS avg_quality,
         |       round(CAST(n_docs AS DOUBLE) / t.total, 6) AS doc_share
         |FROM g CROSS JOIN t ORDER BY lang, source""".stripMargin,

    // the saved-index serve reads back bit-identical codes/centroids
    // and shares the in-memory composition's probe/scoring trees
    "q_topk_ivfpq_indexed" -> base("q_topk_ivfpq"),
    // full training-data materialization: the hash-checked keep
    // decision, re-ranked per-source quota over the kept set, seeded
    // shard shuffle, per-shard token offsets — each stage replayed
    // on top of the embedded q_corpus_filter SQL
    "q_training_mix" ->
      s"""WITH cf AS (${base("q_corpus_filter")}),
         |kept AS (SELECT doc_id, quality FROM cf WHERE keep = 1),
         |j AS (
         |  SELECT k.doc_id, k.quality, d.source,
         |         len(regexp_extract_all(d.text, '$RE')) AS n_tokens
         |  FROM kept k JOIN documents d USING (doc_id)
         |), quota AS (
         |  SELECT doc_id, source, quality, n_tokens FROM (
         |    SELECT doc_id, source, quality, n_tokens,
         |           row_number() OVER (PARTITION BY source
         |             ORDER BY quality DESC, doc_id) AS rq
         |    FROM j) WHERE rq <= 8
         |), keyed AS (
         |  SELECT doc_id, source, quality, n_tokens,
         |         CAST('0x' || substr(md5('mix-7|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hkey
         |  FROM quota
         |)
         |SELECT doc_id, source, quality,
         |       CAST(hkey % 4 AS INTEGER) AS shard,
         |       CAST(row_number() OVER (PARTITION BY hkey % 4
         |         ORDER BY hkey, doc_id) AS INTEGER) AS pos_in_shard,
         |       CAST(n_tokens AS INTEGER) AS n_tokens,
         |       CAST(coalesce(sum(n_tokens) OVER (PARTITION BY hkey % 4
         |         ORDER BY hkey, doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |         AS BIGINT) AS token_offset
         |FROM keyed ORDER BY shard, pos_in_shard""".stripMargin,
    // 3-round integer PageRank over the deterministic synthetic link
    // table: each round = the identical truncating-division damped
    // walk (// here, div in Spark — positive longs, bit-identical),
    // exact long sums, unnormalized 150000-microunit teleport
    "q_pagerank" ->
      s"""WITH $linkCte,
        |$pagerankCtes
        |SELECT i.doc_id, COALESCE(d.outdeg, 0) AS outdeg, r.pr
        |FROM ids i
        |LEFT JOIN deg d ON d.src = i.doc_id
        |JOIN r3 r ON r.doc_id = i.doc_id
        |ORDER BY i.doc_id""".stripMargin,
    // graph-aware quality prior: 60% checked content quality +
    // 40% max-normalized pagerank, all integer microunits
    "q_quality_prior" ->
      s"""WITH $linkCte,
        |$pagerankCtes,
        |q AS (${base("q_quality_score")}),
        |mx AS (SELECT max(pr) AS max_pr FROM r3)
        |SELECT q.doc_id,
        |       CAST(round(q.quality * 1000000, 0) AS BIGINT) AS qk_micro,
        |       (1000000 * r.pr) // mx.max_pr AS npr_micro,
        |       (6 * CAST(round(q.quality * 1000000, 0) AS BIGINT)
        |        + 4 * ((1000000 * r.pr) // mx.max_pr)) // 10 AS score_micro
        |FROM q JOIN r3 r ON r.doc_id = q.doc_id, mx
        |ORDER BY q.doc_id""".stripMargin,
    // tokenizer fertility: the checked BPE chain's per-doc counts
    // rolled up per lang, two truncating divisions into microunits
    "q_tokenizer_fertility" ->
      s"""WITH b AS (${base("q_bpe_tokens")})
        |SELECT d.lang,
        |       count(*) AS n_docs,
        |       CAST(sum(b.n_bpe_tokens) AS BIGINT) AS bpe_tokens,
        |       CAST(sum(b.n_regex_tokens) AS BIGINT) AS regex_tokens,
        |       CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
        |       (1000000 * CAST(sum(b.n_bpe_tokens) AS BIGINT))
        |         // CAST(sum(d.n_chars) AS BIGINT) AS fert_char_micro,
        |       (1000000 * CAST(sum(b.n_bpe_tokens) AS BIGINT))
        |         // CAST(sum(b.n_regex_tokens) AS BIGINT) AS fert_word_micro
        |FROM b JOIN documents d ON d.doc_id = b.doc_id
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    // leak-proof split: the split is a function of the exact-dup
    // cluster representative's 16-bit md5 bucket (same bucket math
    // as q_sample_det), 90/5/5
    "q_split_leakproof" ->
      """WITH fp AS (SELECT doc_id, md5(text) AS text_md5 FROM documents),
        |rep AS (SELECT text_md5, MIN(doc_id) AS rep FROM fp GROUP BY text_md5),
        |b AS (
        |  SELECT fp.doc_id, rep.rep,
        |         CAST(CAST('0x' || substr(md5(CAST(rep.rep AS VARCHAR)), 1, 4)
        |           AS INTEGER) AS INTEGER) AS bucket
        |  FROM fp JOIN rep USING (text_md5)
        |)
        |SELECT doc_id, rep, bucket,
        |       CASE WHEN bucket < 58982 THEN 'train'
        |            WHEN bucket < 62259 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // URL canonicalization: identical regex literals + list ops;
    // the collapse count is a canon-partitioned window
    "q_url_canonical" ->
      s"""WITH u AS (
        |  SELECT doc_id, ${messyUrlSql("doc_id")} AS url
        |  FROM documents
        |),
        |${urlCanonChainSql("doc_id")}
        |SELECT doc_id, url, canon,
        |       count(*) OVER (PARTITION BY canon) AS n_same_canon
        |FROM s5 ORDER BY doc_id""".stripMargin,
    // frontier politeness scheduling: canonicalize -> first-wins per
    // canon -> per-host 2s-spaced queue; relative URLs dropped
    "q_crawl_frontier" ->
      s"""WITH u AS (
        |  SELECT doc_id, ${messyUrlSql("doc_id")} AS url
        |  FROM documents
        |),
        |${urlCanonChainSql("doc_id")},
        |h AS (
        |  SELECT doc_id, canon,
        |         regexp_extract(canon, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1)
        |           AS host
        |  FROM s5
        |), hf AS (
        |  SELECT * FROM h WHERE host <> ''
        |), kept AS (
        |  SELECT doc_id, canon, host FROM (
        |    SELECT *, row_number() OVER (PARTITION BY canon ORDER BY doc_id)
        |             AS rn
        |    FROM hf) WHERE rn = 1
        |)
        |SELECT doc_id, host, canon,
        |       CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id)
        |         AS INTEGER) AS host_rank,
        |       CAST((row_number() OVER (PARTITION BY host ORDER BY doc_id)
        |         - 1) * 2 AS BIGINT) AS fetch_at_sec,
        |       CAST(count(*) OVER (PARTITION BY host) AS INTEGER)
        |         AS n_host_queue
        |FROM kept ORDER BY doc_id""".stripMargin,

    // CDX recrawl dedup: (canonical URL, digest) first-wins over the
    // modeled fetch log — revisits collapse, revisions survive
    "q_cdx_dedup" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents),
        |f AS (
        |  SELECT doc_id AS fetch_id, doc_id AS url_key, text FROM d
        |  UNION ALL
        |  SELECT doc_id + 50000, doc_id, text FROM d WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 60000, doc_id, text || ' updated' FROM d
        |  WHERE doc_id >= 100 AND doc_id < 150
        |),
        |u AS (
        |  SELECT fetch_id, md5(text) AS digest,
        |         ${messyUrlSql("url_key")} AS url
        |  FROM f
        |),
        |${urlCanonChainSql("fetch_id, digest")}
        |SELECT fetch_id, canon, digest,
        |       CAST((fetch_id = min(fetch_id) OVER (PARTITION BY canon, digest))
        |         AS INTEGER) AS keep,
        |       min(fetch_id) OVER (PARTITION BY canon, digest) AS keeper_id
        |FROM s5 ORDER BY fetch_id""".stripMargin,
    // incoming anchor-text profile over the shared link table:
    // bounded distinct-anchor set, sorted before joining
    "q_anchor_text" ->
      s"""WITH $linkCte,
        |a AS (
        |  SELECT dst, 'Q' || CAST(src % 4 + 1 AS VARCHAR) || ' Report' AS anchor
        |  FROM edges
        |)
        |SELECT dst AS doc_id, count(*) AS n_inlinks,
        |       count(DISTINCT anchor) AS n_uniq_anchors,
        |       string_agg(DISTINCT anchor, '|' ORDER BY anchor) AS anchor_profile
        |FROM a GROUP BY dst ORDER BY dst""".stripMargin,
    // near-dup leak-proof split: the q_dup_clusters recursive closure
    // as the split key (singletons key on themselves), then the same
    // 16-bit md5 bucket as q_split_leakproof
    "q_split_neardup" ->
      s"""${minhashCandCte.replaceFirst("WITH ", "WITH RECURSIVE ")}
         |, e AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION SELECT doc_b, doc_a FROM cand
         |), reach AS (
         |  SELECT a AS node, a AS x FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN e ON e.a = r.x
         |), comp AS (
         |  SELECT node, min(x) AS cluster_id FROM reach GROUP BY node
         |), b AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
         |), bk AS (
         |  SELECT doc_id, rep,
         |         CAST(CAST('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 4)
         |           AS INTEGER) AS INTEGER) AS bucket
         |  FROM b
         |)
         |SELECT doc_id, rep, bucket,
         |       CASE WHEN bucket < 58982 THEN 'train'
         |            WHEN bucket < 62259 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM bk ORDER BY doc_id""".stripMargin,
    // delta split assignment against the FROZEN near-dup state: the
    // q_split_neardup chain (history reps) + a band-key -> min-rep
    // map, then a corpus-derived delta (copies / suffixed near-dups /
    // md5 fresh docs / one blank) inherits min matched rep or keys on
    // itself. band/sig/hrep/brep are multi-referenced -> MATERIALIZED
    // (the DuckDB CTE-inlining rule)
    "q_split_assign_delta" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, regexp_extract_all(text, '$RE') AS toks
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, toks FROM t WHERE len(toks) > 0
         |), sh AS (
         |  SELECT doc_id,
         |         CASE WHEN len(toks) >= 3
         |              THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |                     i -> array_to_string(toks[i:i+2], ' ')))
         |              ELSE [array_to_string(toks, ' ')] END AS shingles
         |  FROM tf
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, list_transform(generate_series(0, 7),
         |           s -> list_min(list_transform(shingles,
         |                  x -> md5(CAST(s AS VARCHAR) || '|' || x)))) AS sg
         |  FROM sh
         |), band AS MATERIALIZED (
         |  SELECT doc_id, 0 AS b, sg[1] || sg[2] AS band_key FROM sig
         |  UNION ALL SELECT doc_id, 1, sg[3] || sg[4] FROM sig
         |  UNION ALL SELECT doc_id, 2, sg[5] || sg[6] FROM sig
         |  UNION ALL SELECT doc_id, 3, sg[7] || sg[8] FROM sig
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
         |  FROM band a JOIN band b2 ON a.b = b2.b AND a.band_key = b2.band_key
         |  WHERE a.doc_id < b2.doc_id
         |), e AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION SELECT doc_b, doc_a FROM cand
         |), reach AS (
         |  SELECT a AS node, a AS x FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN e ON e.a = r.x
         |), comp AS (
         |  SELECT node, min(x) AS cluster_id FROM reach GROUP BY node
         |), hrep AS MATERIALIZED (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
         |), brep AS MATERIALIZED (
         |  SELECT band.b, band.band_key, min(hrep.rep) AS mrep
         |  FROM band JOIN hrep USING (doc_id)
         |  GROUP BY band.b, band.band_key
         |), delta AS MATERIALIZED (
         |  SELECT doc_id + 500000 AS doc_id, text FROM documents
         |  WHERE doc_id < 25 AND trim(text) <> ''
         |  UNION ALL
         |  SELECT doc_id + 550000, text || ' zz near dup tail' FROM documents
         |  WHERE doc_id < 10 AND trim(text) <> ''
         |  UNION ALL
         |  SELECT doc_id + 600000, md5(text) FROM documents WHERE doc_id < 10
         |  UNION ALL SELECT 700001, ''
         |), dt AS (
         |  SELECT doc_id, regexp_extract_all(text, '$RE') AS toks
         |  FROM delta WHERE trim(text) <> ''
         |), dtf AS (
         |  SELECT doc_id, toks FROM dt WHERE len(toks) > 0
         |), dsh AS (
         |  SELECT doc_id,
         |         CASE WHEN len(toks) >= 3
         |              THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |                     i -> array_to_string(toks[i:i+2], ' ')))
         |              ELSE [array_to_string(toks, ' ')] END AS shingles
         |  FROM dtf
         |), dsig AS (
         |  SELECT doc_id, list_transform(generate_series(0, 7),
         |           s -> list_min(list_transform(shingles,
         |                  x -> md5(CAST(s AS VARCHAR) || '|' || x)))) AS sg
         |  FROM dsh
         |), dband AS (
         |  SELECT doc_id, 0 AS b, sg[1] || sg[2] AS band_key FROM dsig
         |  UNION ALL SELECT doc_id, 1, sg[3] || sg[4] FROM dsig
         |  UNION ALL SELECT doc_id, 2, sg[5] || sg[6] FROM dsig
         |  UNION ALL SELECT doc_id, 3, sg[7] || sg[8] FROM dsig
         |), matched AS (
         |  SELECT d.doc_id, min(brep.mrep) AS mrep
         |  FROM dband d JOIN brep ON brep.b = d.b AND brep.band_key = d.band_key
         |  GROUP BY d.doc_id
         |), asn AS (
         |  SELECT delta.doc_id, coalesce(matched.mrep, delta.doc_id) AS rep
         |  FROM delta LEFT JOIN matched USING (doc_id)
         |), abk AS (
         |  SELECT doc_id, rep,
         |         CAST(CAST('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 4)
         |           AS INTEGER) AS INTEGER) AS bucket
         |  FROM asn
         |)
         |SELECT doc_id, rep, bucket,
         |       CASE WHEN bucket < 58982 THEN 'train'
         |            WHEN bucket < 62259 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM abk ORDER BY doc_id""".stripMargin,
    // soft dedup: floor(1e6 / cluster_size) microweights, rolled up
    // per source — integer division + exact long sums
    "q_dedup_weights" ->
      """WITH fp AS (
        |  SELECT doc_id, source, md5(text) AS text_md5 FROM documents
        |),
        |sz AS (
        |  SELECT text_md5, count(*) AS csize FROM fp GROUP BY text_md5
        |)
        |SELECT fp.source,
        |       count(*) AS n_docs,
        |       count(DISTINCT fp.text_md5) AS n_distinct,
        |       CAST(sum(1000000 // sz.csize) AS BIGINT) AS eff_docs_micro
        |FROM fp JOIN sz USING (text_md5)
        |GROUP BY fp.source
        |ORDER BY fp.source""".stripMargin,
    // DSIR selection: the hash-checked weight replay joined to
    // `source`, top-10 per source by (logw_micro DESC, doc_id) —
    // integer weights, no rounding discipline needed before ranking
    "q_dsir_select" ->
      s"""WITH w AS (${base("q_dsir_weights")}),
         |r AS (
         |  SELECT d.source, w.doc_id, w.logw_micro,
         |         CAST(row_number() OVER (PARTITION BY d.source
         |           ORDER BY w.logw_micro DESC, w.doc_id) AS INTEGER) AS "rank"
         |  FROM w JOIN documents d ON d.doc_id = w.doc_id
         |)
         |SELECT source, "rank", doc_id, logw_micro FROM r
         |WHERE "rank" <= 10 ORDER BY source, "rank"""".stripMargin,
    // per-domain quota: the hash-checked quality replay joined to
    // `source`, ranked by the identical (quality DESC, doc_id) order
    "q_domain_quota" ->
      s"""WITH q AS (${base("q_quality_score")}),
         |r AS (
         |  SELECT d.source, q.doc_id, q.quality,
         |         CAST(row_number() OVER (PARTITION BY d.source
         |           ORDER BY q.quality DESC, q.doc_id) AS INTEGER) AS "rank"
         |  FROM q JOIN documents d ON d.doc_id = q.doc_id
         |)
         |SELECT source, "rank", doc_id, quality FROM r
         |WHERE "rank" <= 8 ORDER BY source, "rank"""".stripMargin,
    // CCNet terciles: same fixed-grid histogram thresholds as the
    // engine (suffix/prefix sums over the <=4096-row bin table),
    // over the already-hash-checked unigram-LM score
    "q_quality_buckets" ->
      s"""WITH lp AS (${base("q_unigram_logprob")}),
         |b AS (
         |  SELECT doc_id, n_tokens, avg_logprob,
         |         CAST(least(greatest(floor((avg_logprob + 20.0)
         |           / (20.0 / 4096.0)), 0), 4095) AS INTEGER) AS bin
         |  FROM lp
         |),
         |hist AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
         |sfx AS (SELECT bin, sum(c) OVER (ORDER BY bin DESC) AS s FROM hist),
         |pfx AS (SELECT bin, sum(c) OVER (ORDER BY bin) AS s FROM hist),
         |nn AS (SELECT count(*) // 3 AS third FROM b),
         |bh AS (SELECT coalesce(min(bin), 4096) AS bhead
         |       FROM sfx, nn WHERE sfx.s <= nn.third),
         |bt AS (SELECT coalesce(max(bin), -1) AS btail
         |       FROM pfx, nn WHERE pfx.s <= nn.third)
         |SELECT b.doc_id, b.n_tokens, b.avg_logprob, b.bin,
         |       CASE WHEN b.bin >= bh.bhead THEN 'head'
         |            WHEN b.bin <= bt.btail THEN 'tail'
         |            ELSE 'middle' END AS bucket
         |FROM b, bh, bt ORDER BY b.doc_id""".stripMargin,
    "q_doc_split" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, text, CAST(length(text) AS INTEGER) AS n
         |  FROM documents WHERE text IS NOT NULL AND length(text) > 0
         |), p AS (
         |  SELECT d.doc_id, 0 AS part_index, 0 AS pstart,
         |         CAST(${docSplitCut("0")} AS INTEGER) AS pend
         |  FROM d
         |  UNION ALL
         |  SELECT p.doc_id, p.part_index + 1, p.pend,
         |         CAST(${docSplitCut("p.pend")} AS INTEGER) AS pend
         |  FROM p JOIN d ON d.doc_id = p.doc_id
         |  WHERE p.pend < d.n
         |)
         |SELECT p.doc_id, CAST(p.part_index AS INTEGER) AS part_index,
         |       CAST(p.pstart AS INTEGER) AS start, p.pend AS "end",
         |       CAST(p.pend - p.pstart AS INTEGER) AS n_part,
         |       md5(substr(d.text, p.pstart + 1, p.pend - p.pstart)) AS part_md5
         |FROM p JOIN d ON d.doc_id = p.doc_id
         |ORDER BY p.doc_id, p.part_index""".stripMargin,
    "q_ann_recall" -> recallSql(
      topkCosineSqlN(graft.Queries.RecallQueryCount),
      topkIvfSqlN(graft.Queries.RecallQueryCount)),

    // rank-aware retrieval metrics: the discount table and its
    // prefix sums are the SAME driver-side literals the Spark plan
    // uses (Queries.NdcgDiscMicro) — no cross-engine log2; RR is the
    // truncating integer division (positive operands: // == div)
    "q_retrieval_metrics" -> {
      val disc = graft.Queries.NdcgDiscMicro.zipWithIndex
        .map { case (d, i) => s"(${i + 1}, CAST($d AS BIGINT))" }
        .mkString(", ")
      val pref = graft.Queries.NdcgIdealMicro.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, CAST($p AS BIGINT))" }
        .mkString(", ")
      s"""WITH truth AS (
         |  SELECT query_id, vec_id FROM (${base("q_topk_cosine")}) t
         |), approx AS (
         |  SELECT query_id, vec_id, rank FROM (${base("q_topk_ivf")}) a
         |), disc(r, d) AS (VALUES $disc),
         |pref(pk, idcg) AS (VALUES $pref),
         |hits AS (
         |  SELECT a.query_id, CAST(count(*) AS INTEGER) AS n_hit,
         |         CAST(min(a.rank) AS INTEGER) AS first_hit_rank,
         |         CAST(sum(d.d) AS BIGINT) AS dcg_micro
         |  FROM approx a
         |  JOIN truth t ON t.query_id = a.query_id AND t.vec_id = a.vec_id
         |  JOIN disc d ON d.r = a.rank
         |  GROUP BY a.query_id
         |), ks AS (
         |  SELECT query_id, CAST(count(*) AS INTEGER) AS k
         |  FROM truth GROUP BY query_id
         |)
         |SELECT ks.query_id, ks.k,
         |       coalesce(h.n_hit, 0) AS n_hit,
         |       coalesce(h.first_hit_rank, 0) AS first_hit_rank,
         |       CAST(coalesce(1000000 // h.first_hit_rank, 0) AS BIGINT)
         |         AS rr_micro,
         |       CAST(coalesce(h.dcg_micro, 0) AS BIGINT) AS dcg_micro,
         |       p.idcg AS idcg_micro,
         |       round(CAST(coalesce(h.dcg_micro, 0) AS DOUBLE) / p.idcg, 6)
         |         AS ndcg
         |FROM ks
         |LEFT JOIN hits h ON h.query_id = ks.query_id
         |JOIN pref p ON p.pk = ks.k
         |ORDER BY ks.query_id""".stripMargin
    },

    // residual-tier recall vs the same exact lattice truth — what
    // residual encoding buys over raw-vector codes at identical
    // geometry
    "q_ivfpq_res_recall" -> recallSql(
      exactLatticeTruthSqlN(graft.Queries.RecallQueryCount),
      topkIvfpqResSqlN(graft.Queries.RecallQueryCount)),

    // IVF+PQ recall vs the same exact lattice truth — what the cell
    // pruning costs on top of the codebook approximation
    "q_ivfpq_recall" -> recallSql(
      exactLatticeTruthSqlN(graft.Queries.RecallQueryCount),
      topkIvfpqSqlN(graft.Queries.RecallQueryCount)),

    // PQ recall vs the EXACT int8-lattice squared-L2 truth (pure
    // integer distances) — the approx side embeds q_topk_pq's serve
    // SQL (widened only in its query CTE), so the eval replays from
    // the already-hash-checked ranking
    "q_pq_recall" -> recallSql(
      exactLatticeTruthSqlN(graft.Queries.RecallQueryCount),
      topkPqSqlN(graft.Queries.RecallQueryCount)),

    // rerank-funnel recall vs the same exact lattice truth — the
    // number showing shortlist→exact-rerank recovers the recall
    // flat ADC loses to codebook approximation (the production
    // answer to q_pq_recall's partial recall)
    "q_pq_rerank_recall" -> recallSql(
      exactLatticeTruthSqlN(graft.Queries.RecallQueryCount),
      topkPqRerankSqlN(graft.Queries.RecallQueryCount)),

    // IVFPQ+refine recall — with q_pq_rerank_recall and
    // q_ivfpq_recall this completes the loss decomposition: refine
    // recovers the codebook half inside probed cells, the residual
    // gap to 1.0 is the coarse tier's cell pruning
    "q_ivfpq_rerank_recall" -> recallSql(
      exactLatticeTruthSqlN(graft.Queries.RecallQueryCount),
      topkIvfpqRerankSqlN(graft.Queries.RecallQueryCount)),

    // the measured nProbe-vs-recall curve (r16 verdict #4): one row
    // per probed depth, same shortlist -> exact-rerank funnel — the
    // ceiling at nProbe = nCells must meet q_pq_rerank_recall's
    "q_ivfpq_probe_recall" ->
      ivfpqProbeRecallSql(graft.Queries.RecallQueryCount))

  /** Exact int8-lattice squared-L2 top-5 truth over the first `nQ`
    * queries (pure integer distances) — the truth side of the PQ-tier
    * recall rows. */
  private def exactLatticeTruthSqlN(nQ: Int): String =
    s"""WITH lqv AS MATERIALIZED (
       |  SELECT vec_id,
       |         CASE WHEN m = 0 THEN list_transform(embedding, x -> 0)
       |              ELSE list_transform(embedding,
       |                x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / m) + 0.5) AS INTEGER))
       |         END AS qv
       |  FROM (SELECT vec_id, embedding,
       |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
       |        FROM embeddings)
       |), lqs AS (
       |  SELECT vec_id AS query_id, qv AS qq FROM lqv WHERE vec_id < $nQ
       |), ld AS (
       |  SELECT q.query_id, v.vec_id,
       |         list_sum(list_transform(generate_series(1, 64),
       |           j -> CAST(q.qq[j] - v.qv[j] AS BIGINT) * (q.qq[j] - v.qv[j]))) AS l2
       |  FROM lqv v CROSS JOIN lqs q
       |)
       |SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY l2, vec_id) AS rn
       |  FROM ld) WHERE rn <= 5""".stripMargin

  /** Shared recall-row SQL: per-query recall@k of `approxSql` vs
    * `truthSql` plus the micro-averaged tier mean on every row — the
    * DuckDB twin of Queries.recallFrame. */
  private def recallSql(truthSql: String, approxSql: String): String =
    s"""WITH truth AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM ($truthSql) t
       |), approx AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM ($approxSql) a
       |), hits AS (
       |  SELECT t.query_id, count(*) AS n_hit
       |  FROM truth t
       |  JOIN approx a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |  GROUP BY t.query_id
       |), ks AS (
       |  SELECT query_id, count(*) AS k FROM truth GROUP BY query_id
       |), tot AS (
       |  SELECT CAST(sum(coalesce(h.n_hit, 0)) AS INTEGER) AS total_hit,
       |         CAST(sum(ks.k) AS INTEGER) AS total_k
       |  FROM ks LEFT JOIN hits h ON h.query_id = ks.query_id
       |)
       |SELECT ks.query_id, CAST(ks.k AS INTEGER) AS k,
       |       CAST(coalesce(h.n_hit, 0) AS INTEGER) AS n_hit,
       |       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / ks.k, 4) AS recall,
       |       t.total_hit, t.total_k,
       |       round(CAST(t.total_hit AS DOUBLE) / t.total_k, 4) AS mean_recall
       |FROM ks
       |LEFT JOIN hits h ON h.query_id = ks.query_id
       |CROSS JOIN tot t
       |ORDER BY ks.query_id""".stripMargin
}
