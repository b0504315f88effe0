"""DuckDB oracle SQL for every query in ``queries.SPARK_QUERIES``.

Dialect notes vs the Spark side: regexp_replace needs the 'g' flag and
\\1 backreferences; list indexing is 1-based; `range(a,b)` unnested via
LATERAL; md5/strftime/printf are bit-identical across engines. All
floats rounded to the same precision as the Spark side.
"""

from __future__ import annotations

from .. import oracles, spec

# single quote doubled for SQL-literal embedding
_BPE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+".replace("'", "''")

ORACLES: dict[str, str] = {
    # -- extraction family (generated from spec constants) -----------------
    "extract_spans": oracles.extract_spans(),
    "extract_meta": oracles.extract_meta(),
    "extract_media": oracles.extract_media(),
    "extract_metrics": oracles.extract_metrics(),
    "clean_text": oracles.clean_text_query(),
    "url_normalize": oracles.url_normalize(),
    # -- relational ---------------------------------------------------------
    "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    "top_orders": """
SELECT o_orderkey, o_custkey, o_orderdate::VARCHAR AS o_orderdate, o_totalprice
FROM orders
ORDER BY o_orderdate DESC, o_orderkey ASC
LIMIT 100
""",
    "doc_vec_join": """
SELECT d.doc_id::BIGINT AS doc_id, d.lang, e.label::BIGINT AS label,
       len(e.embedding)::BIGINT AS dim
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
    "member_recount": """
SELECT c.c_custkey::BIGINT AS custkey,
       coalesce(o.cnt, 0)::BIGINT AS n_orders
FROM customer c
LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) o
  ON c.c_custkey = o.o_custkey
""",
    "anti_join": """
SELECT c_custkey::BIGINT AS custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderdate >= DATE '1997-06-01'
)
""",
    "topk_per_group": """
SELECT custkey, orderkey, o_totalprice, rk FROM (
  SELECT o_custkey::BIGINT AS custkey, o_orderkey::BIGINT AS orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)::BIGINT AS rk
  FROM orders
) WHERE rk <= 2
""",
    "broadcast_lookup": """
SELECT r.r_name,
       count(*)::BIGINT AS n_customers,
       round(sum(c.c_acctbal), 2) AS sum_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
    "full_outer_counts": """
SELECT coalesce(o.o_custkey, n.o_custkey)::BIGINT AS custkey,
       coalesce(o.old_cnt, 0)::BIGINT AS old_cnt,
       coalesce(n.new_cnt, 0)::BIGINT AS new_cnt
FROM (SELECT o_custkey, count(*) AS old_cnt FROM orders WHERE o_orderdate < DATE '1995-01-01' GROUP BY o_custkey) o
FULL OUTER JOIN (SELECT o_custkey, count(*) AS new_cnt FROM orders WHERE o_orderdate >= DATE '1995-01-01' GROUP BY o_custkey) n
  ON o.o_custkey = n.o_custkey
""",
    # -- dedup ----------------------------------------------------------------
    "dedup_exact": """
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS dup_key,
       count(*)::BIGINT AS n_docs,
       min(doc_id)::BIGINT AS keeper
FROM documents
GROUP BY 1
""",
    "dedup_minhash": """
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
  FROM w, LATERAL unnest(range(1, greatest(len(ws) - 2, 0) + 1)) t(i)
),
mh AS (
  SELECT doc_id, k,
         min(substr(md5(s || '#' || (k // 4)::VARCHAR), ((k % 4) * 8 + 1)::INT, 8)) AS m
  FROM sh, LATERAL unnest(range(0, 8)) t2(k)
  GROUP BY doc_id, k
),
sig AS (SELECT doc_id, list(m ORDER BY k) AS sig FROM mh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b,
         sig[(b*4+1)::INT] || '|' || sig[(b*4+2)::INT] || '|' ||
         sig[(b*4+3)::INT] || '|' || sig[(b*4+4)::INT] AS key
  FROM sig, LATERAL unnest(range(0, 2)) t3(b)
)
SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
""",
    "dedup_jaccard": """
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
sh0 AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
  FROM w, LATERAL unnest(range(1, greatest(len(ws) - 2, 0) + 1)) t(i)
),
-- document-frequency cap (mirrors the Spark operator's max_df=100 skew
-- guard): near-ubiquitous shingles are dropped before the PAIRING;
-- |A| and |B| stay full set sizes (conservative similarity estimate)
df AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 100),
sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN df USING (s)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh0 GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b USING (s)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.1
""",
    "dedup_simhash": """
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
tok AS (SELECT DISTINCT doc_id, t.tk FROM w, LATERAL unnest(ws) AS t(tk)),
h AS (SELECT doc_id, md5(tk) AS hx FROM tok),
bits AS (
  SELECT doc_id, j,
         sum(2 * ((strpos('0123456789abcdef', substr(hx, j::INT + 1, 1)) - 1) % 2) - 1) AS vote
  FROM h, LATERAL unnest(range(0, 16)) t(j)
  GROUP BY doc_id, j
)
SELECT doc_id, sum(CASE WHEN vote > 0 THEN (1::BIGINT << j::INT) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id
""",
    # mirrors the Spark operator's sign-LSH candidate generation (8 bands
    # x 4 sign bits) + exact cosine verify — NOT an all-pairs scan
    "dedup_embedding": """
WITH u AS (
  SELECT vec_id::BIGINT AS vid, v AS raw,
         CASE WHEN nv = 0 THEN v ELSE list_transform(v, x -> x / nv) END AS uv
  FROM (
    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv
    FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
  )
),
bands AS (
  SELECT vid, t.b,
         ((CASE WHEN raw[(t.b*4+1)::INT] >= 0 THEN 1 ELSE 0 END)
        + (CASE WHEN raw[(t.b*4+2)::INT] >= 0 THEN 2 ELSE 0 END)
        + (CASE WHEN raw[(t.b*4+3)::INT] >= 0 THEN 4 ELSE 0 END)
        + (CASE WHEN raw[(t.b*4+4)::INT] >= 0 THEN 8 ELSE 0 END)) AS key
  FROM u, LATERAL unnest(range(0, 8)) t(b)
),
cand AS (
  SELECT DISTINCT a.vid AS id_a, c.vid AS id_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.vid < c.vid
)
SELECT id_a, id_b,
       round(list_sum(list_transform(range(1, len(a.uv) + 1), i -> a.uv[i] * b.uv[i])), 6) AS cosine
FROM cand JOIN u a ON a.vid = id_a JOIN u b ON b.vid = id_b
WHERE round(list_sum(list_transform(range(1, len(a.uv) + 1), i -> a.uv[i] * b.uv[i])), 6) >= 0.30
""",
    # -- similarity -----------------------------------------------------------
    "ann_topk": """
WITH u AS (
  SELECT vec_id::BIGINT AS vid,
         CASE WHEN nv = 0 THEN v ELSE list_transform(v, x -> x / nv) END AS uv
  FROM (
    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv
    FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
  )
),
sims AS (
  SELECT q.vid AS qid, c.vid AS neighbor,
         list_sum(list_transform(range(1, len(q.uv) + 1), i -> q.uv[i] * c.uv[i])) AS cos_raw
  FROM u q, u c
  WHERE q.vid < 5 AND q.vid <> c.vid
),
ranked AS (
  SELECT qid, neighbor, cos_raw,
         row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, neighbor ASC)::BIGINT AS rk
  FROM sims
)
SELECT qid, neighbor, round(cos_raw, 6) AS cosine, rk
FROM ranked WHERE rk <= 10
""",
    "ann_lsh_buckets": """
WITH b AS (
  SELECT vec_id::BIGINT AS vec_id,
         ((CASE WHEN embedding[1]  >= 0 THEN 1 ELSE 0 END)
        + (CASE WHEN embedding[9]  >= 0 THEN 2 ELSE 0 END)
        + (CASE WHEN embedding[17] >= 0 THEN 4 ELSE 0 END)
        + (CASE WHEN embedding[25] >= 0 THEN 8 ELSE 0 END))::BIGINT AS bucket
  FROM embeddings
)
SELECT bucket, count(*)::BIGINT AS n_vectors, min(vec_id)::BIGINT AS min_vec_id
FROM b GROUP BY bucket
""",
    # -- text analysis ---------------------------------------------------------
    "text_stats": f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, text,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x IN ('the', 'a', 'of', 'and'))) AS stop,
         length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alnum
  FROM documents
)
SELECT doc_id,
       n_words::BIGINT AS n_words,
       len(regexp_extract_all(text, '{_BPE}'))::BIGINT AS n_bpe_tokens,
       ceil(length(text) / 4.0)::BIGINT AS n_tokens_proxy,
       round(stop::DOUBLE / greatest(n_words, 1), 6) AS stopword_ratio,
       round(alnum::DOUBLE / greatest(length(text), 1), 6) AS alnum_ratio,
       CASE WHEN stop::DOUBLE / greatest(n_words, 1) > 0.05 THEN 'en' ELSE 'unknown' END AS lang_guess,
       substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 16) AS fingerprint
FROM t
""",
    # -- vectors / clustering ---------------------------------------------------
    "centroid_means": """
SELECT label::BIGINT AS label, pos::BIGINT AS pos, round(avg(val), 6) AS centroid_val
FROM (
  SELECT label,
         unnest(range(0, len(embedding))) AS pos,
         unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
  FROM embeddings
)
GROUP BY label, pos
""",
    "cluster_assign": """
WITH cents AS (
  SELECT label::BIGINT AS label, list(cv ORDER BY pos) AS centroid
  FROM (
    SELECT label, pos, avg(val) AS cv
    FROM (
      SELECT label,
             unnest(range(0, len(embedding))) AS pos,
             unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
      FROM embeddings
    ) GROUP BY label, pos
  ) GROUP BY label
),
v AS (SELECT vec_id::BIGINT AS vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
sims AS (
  SELECT v.vec_id, c.label,
         list_sum(list_transform(range(1, len(v.v) + 1), i -> v.v[i] * c.centroid[i]))
           / (sqrt(list_sum(list_transform(v.v, x -> x * x)))
              * sqrt(list_sum(list_transform(c.centroid, x -> x * x)))) AS cos_raw
  FROM v, cents c
),
ranked AS (
  SELECT vec_id, label, cos_raw,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos_raw DESC, label ASC) AS rk
  FROM sims
)
SELECT vec_id, label AS assigned_label, round(cos_raw, 6) AS cosine
FROM ranked WHERE rk = 1 AND cos_raw > 0.2
""",
    "cluster_merge_pairs": """
WITH cents AS (
  SELECT label::BIGINT AS label, list(cv ORDER BY pos) AS centroid
  FROM (
    SELECT label, pos, avg(val) AS cv
    FROM (
      SELECT label,
             unnest(range(0, len(embedding))) AS pos,
             unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
      FROM embeddings
    ) GROUP BY label, pos
  ) GROUP BY label
),
p AS (
  SELECT a.label AS label_a, b.label AS label_b,
         list_sum(list_transform(range(1, len(a.centroid) + 1), i -> a.centroid[i] * b.centroid[i]))
           / (sqrt(list_sum(list_transform(a.centroid, x -> x * x)))
              * sqrt(list_sum(list_transform(b.centroid, x -> x * x)))) AS cos_raw
  FROM cents a, cents b WHERE a.label < b.label
)
SELECT label_a, label_b, round(cos_raw, 6) AS cosine, cos_raw > 0.9 AS should_merge
FROM p
""",
    "l2_normalize": """
WITH u AS (
  SELECT vec_id::BIGINT AS vec_id,
         CASE WHEN nv = 0 THEN v ELSE list_transform(v, x -> x / nv) END AS uv
  FROM (
    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv
    FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
  )
)
SELECT vec_id,
       unnest(range(0, len(uv)))::BIGINT AS pos,
       round(unnest(uv), 6) AS val
FROM u
""",
    # -- events ---------------------------------------------------------------
    # the former events_rates oracle rides along joined on event_type —
    # consolidated with the Spark side (see queries.q_events_window)
    "events_window": """
WITH w AS (
  SELECT (floor(epoch(ts) / 300) * 300)::BIGINT AS window_start, event_type,
         count(*)::BIGINT AS n_events,
         round(sum(value), 6) AS sum_value
  FROM events
  GROUP BY 1, 2
),
r AS (
  SELECT event_type, count(*)::BIGINT AS type_n,
         round(count(*) / (SELECT count(*)::DOUBLE FROM events), 6) AS type_share,
         round(avg(value), 6) AS type_avg_value
  FROM events GROUP BY event_type
)
SELECT w.window_start, w.event_type, w.n_events, w.sum_value,
       r.type_n, r.type_share, r.type_avg_value
FROM w JOIN r ON w.event_type = r.event_type
""",
    "events_sessions": """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_idx
  FROM flagged
)
SELECT user_id::BIGINT AS user_id, sess_idx::BIGINT AS sess_idx,
       count(*)::BIGINT AS n_events,
       (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS duration_us
FROM sess GROUP BY user_id, sess_idx
""",
    "confidence_clamp": """
SELECT event_id::BIGINT AS event_id,
       round(least(greatest(coalesce(value / 10 - 0.2, 0), 0), 1), 6) AS conf
FROM events
""",
}

_MEDIA_IN = ", ".join(f"'{k}'" for k in spec.MEDIA_KINDS)

ORACLES.update({
    "main_content": f"""
WITH {oracles.spans_cte()}
SELECT db.did AS doc_id, coalesce(m.mc, '') AS main_content
FROM doc_base db
LEFT JOIN (
  SELECT did, string_agg(text, chr(10) || chr(10) ORDER BY i, sub) AS mc
  FROM expanded
  -- kind-based filter to match the Spark predicate exactly: a
  -- degenerate media span with an EMPTY ref must still be excluded
  -- (a pitfall found by property testing)
  WHERE kind NOT IN ({_MEDIA_IN}) GROUP BY did
) m ON m.did = db.did
""",
    "domain_counts_salted": f"""
WITH {oracles.spans_cte()}
SELECT regexp_extract(replace(url, '%3A', ':'), '^https?://([^/]+)', 1) AS domain,
       count(*)::BIGINT AS n
FROM doc_base
GROUP BY 1
""",
    "hash_embeddings": """
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
tok AS (SELECT DISTINCT doc_id, t.tk FROM w, LATERAL unnest(ws) AS t(tk)),
h AS (SELECT doc_id, md5(tk) AS hx FROM tok),
contrib AS (
  SELECT doc_id,
         (('0x' || substr(hx, 1, 8))::BIGINT % 16) AS b,
         (((strpos('0123456789abcdef', substr(hx, 9, 1)) - 1) % 2) * 2 - 1)::DOUBLE AS s
  FROM h
),
sums AS (SELECT doc_id, b, sum(s) AS v FROM contrib GROUP BY doc_id, b),
dense AS (
  SELECT dd.doc_id, pp.pos, coalesce(s.v, 0.0) AS val
  FROM (SELECT DISTINCT doc_id FROM w) dd
  CROSS JOIN (SELECT unnest(range(0, 16)) AS pos) pp
  LEFT JOIN sums s ON s.doc_id = dd.doc_id AND s.b = pp.pos
),
nrm AS (SELECT doc_id, sqrt(sum(val * val)) AS nv FROM dense GROUP BY doc_id)
SELECT d.doc_id, d.pos::BIGINT AS pos,
       round(CASE WHEN n.nv = 0 THEN d.val ELSE d.val / n.nv END, 6) AS val
FROM dense d JOIN nrm n USING (doc_id)
""",
    "token_chunks": """
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id, string_split_regex(trim(text), '\\s+') AS ws
  FROM documents
),
c AS (
  SELECT doc_id, t.i AS chunk_idx,
         array_to_string(ws[(t.i*40+1)::INT : (t.i*40+40)::INT], ' ') AS chunk
  FROM w, LATERAL unnest(range(0, greatest(ceil(len(ws) / 40.0)::BIGINT, 1))) AS t(i)
)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
       (CASE WHEN trim(chunk) = '' THEN 0
             ELSE length(chunk) - length(replace(chunk, ' ', '')) + 1 END)::BIGINT AS chunk_tokens,
       md5(chunk) AS chunk_md5
FROM c
""",
})

ORACLES["json_props"] = """
SELECT event_id::BIGINT AS event_id,
       json_extract(props, '$.k')::BIGINT AS k
FROM events
"""

ORACLES["enrichment_choice"] = """
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         substr(text, 1, ((n_chars * 7) % 900 + 1)::INT) AS prim,
         text AS alt1,
         substr(text, 1, 350) AS alt2
  FROM documents
),
b AS (
  SELECT doc_id, prim,
         CASE WHEN length(alt1) >= length(alt2) THEN alt1 ELSE alt2 END AS best_alt
  FROM t
),
c AS (
  SELECT doc_id, prim,
         CASE WHEN length(prim) < 800
                   AND length(best_alt) > greatest(length(prim), 400)
              THEN best_alt ELSE prim END AS chosen
  FROM b
)
SELECT doc_id, length(prim)::BIGINT AS primary_len,
       length(chosen)::BIGINT AS final_len,
       length(chosen) <> length(prim) AS enriched
FROM c
"""

ORACLES["user_event_sets"] = """
SELECT user_id::BIGINT AS user_id,
       count(DISTINCT event_type)::BIGINT AS n_types,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
FROM events GROUP BY user_id
"""

# -- round-2: MERGE/upsert, cluster maintenance, promoted scalars ----------

ORACLES["upsert_docs"] = """
WITH src AS (
  SELECT doc_id, 'UPDATED ' || text AS text, lang, 'merge' AS source,
         (length(text) + 8)::BIGINT AS n_chars
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 10000000, 'NEW ' || doc_id::VARCHAR, 'en', 'merge',
         length('NEW ' || doc_id::VARCHAR)::BIGINT
  FROM documents WHERE doc_id % 100 = 0
),
merged AS (
  SELECT doc_id, text, lang, source, n_chars FROM src
  UNION ALL
  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
  FROM documents d
  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.doc_id = d.doc_id)
)
SELECT doc_id::BIGINT AS doc_id, md5(text) AS text_md5, lang, source,
       n_chars::BIGINT AS n_chars
FROM merged
"""

ORACLES["update_columns"] = """
SELECT d.doc_id::BIGINT AS doc_id, md5(d.text) AS text_md5,
       CASE WHEN d.doc_id % 7 = 0 THEN 'de' ELSE d.lang END AS lang,
       CASE WHEN d.doc_id % 7 = 0 THEN 'updated' ELSE d.source END AS source,
       d.n_chars::BIGINT AS n_chars
FROM documents d
"""

ORACLES["zero_centroid_repair"] = """
WITH cents AS (
  SELECT label::BIGINT AS cluster_id, list(cv ORDER BY pos) AS centroid
  FROM (
    SELECT label, pos, avg(val) AS cv
    FROM (
      SELECT label,
             unnest(range(0, len(embedding))) AS pos,
             unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
      FROM embeddings
    ) GROUP BY label, pos
  ) GROUP BY label
)
SELECT cluster_id,
       unnest(range(0, len(centroid)))::BIGINT AS pos,
       round(unnest(centroid), 6) AS val,
       (cluster_id % 3 = 0) AS repaired
FROM cents
"""

ORACLES["cluster_unassign"] = """
WITH m AS (
  SELECT vec_id::BIGINT AS vec_id,
         (CASE WHEN vec_id % 50 = 0 THEN vec_id + 10000 ELSE label END)::BIGINT AS cluster_id
  FROM embeddings
),
small AS (SELECT cluster_id FROM m GROUP BY cluster_id HAVING count(*) < 2)
SELECT m.vec_id, m.cluster_id AS old_cluster_id
FROM m JOIN small USING (cluster_id)
"""

ORACLES["parse_embedding"] = """
WITH s AS (
  SELECT vec_id::BIGINT AS vec_id,
         CASE WHEN vec_id % 2 = 0
              THEN '[' || vec_id::VARCHAR || ', ' || (vec_id*2)::VARCHAR || ', x, ' || (vec_id*3)::VARCHAR || ']'
              ELSE vec_id::VARCHAR || ' ' || (vec_id*2)::VARCHAR || ' x ' || (vec_id*3)::VARCHAR END AS es
  FROM embeddings
),
p AS (
  SELECT vec_id,
         list_transform(
           list_filter(string_split_regex(trim(regexp_replace(es, '[\\[\\]]', '', 'g')), ',\\s*|\\s+'),
                       x -> length(x) > 0),
           x -> TRY_CAST(x AS DOUBLE)) AS vals
  FROM s
)
SELECT vec_id, unnest(range(0, len(vals)))::BIGINT AS pos, unnest(vals) AS val
FROM p
"""

ORACLES["stride_downsample"] = """
WITH v AS (SELECT vec_id::BIGINT AS vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
d AS (SELECT vec_id, list_transform(range(1, len(v) + 1, 2), i -> v[i::INT]) AS ds FROM v)
SELECT vec_id, unnest(range(0, len(ds)))::BIGINT AS pos, round(unnest(ds), 6) AS val
FROM d
"""

ORACLES["running_mean"] = """
WITH cents AS (
  SELECT label::BIGINT AS label, list(cv ORDER BY pos) AS centroid
  FROM (
    SELECT label, pos, avg(val) AS cv
    FROM (
      SELECT label,
             unnest(range(0, len(embedding))) AS pos,
             unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
      FROM embeddings
    ) GROUP BY label, pos
  ) GROUP BY label
),
v AS (SELECT vec_id::BIGINT AS vec_id, label::BIGINT AS label,
             list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
nm AS (
  SELECT v.vec_id,
         list_transform(range(1, len(v.v) + 1), i -> (c.centroid[i::INT] * 5 + v.v[i::INT]) / 6) AS nm
  FROM v JOIN cents c ON v.label = c.label
)
SELECT vec_id, unnest(range(0, len(nm)))::BIGINT AS pos, round(unnest(nm), 6) AS val
FROM nm
"""

ORACLES["strip_truncate"] = f"""
SELECT doc_id::BIGINT AS doc_id,
       substr(trim(regexp_replace(
         regexp_replace('<p>' || text || '</p> <b>key</b>', '{spec.RE_HTML_TAG}', ' ', 'g'),
         '\\s+', ' ', 'g')), 1, 200) AS stripped
FROM documents
"""

ORACLES["truncate_words"] = """
WITH c AS (
  SELECT doc_id::BIGINT AS doc_id, text,
         substr(text, 1, 100) AS cut,
         strpos(reverse(substr(text, 1, 100)), ' ') AS rev_idx
  FROM documents
),
d AS (
  SELECT doc_id, text, cut, rev_idx,
         length(cut) - rev_idx + 1 AS last_space
  FROM c
)
SELECT doc_id,
       CASE WHEN length(text) <= 100 THEN text
            WHEN rev_idx > 0 AND last_space >= 80 THEN substr(cut, 1, (last_space - 1)::INT)
            ELSE cut END AS truncated
FROM d
"""

from ..functions.text import HTML_ENTITIES as _HTML_ENTITIES

_ENT_EXPR = "'AT&amp;T &lt;b&gt; &quot;q&quot; &#39;a&#39;&nbsp;&mdash;&ndash;&hellip; ' || substr(text, 1, 40)"
for _ent, _ch in _HTML_ENTITIES:
    _ENT_EXPR = f"replace({_ENT_EXPR}, '{_ent}', '{_ch.replace(chr(39), chr(39) * 2)}')"

ORACLES["unescape_entities"] = f"""
SELECT doc_id::BIGINT AS doc_id, {_ENT_EXPR} AS unescaped
FROM documents
"""

# two unrolled Lloyd's iterations, mirroring similarity.kmeans_fit
# (normalize -> seed with the 4 lowest-id vectors -> assign by argmax
# cosine -> member mean -> renormalize, twice)
_KM_NORM = """
  SELECT cell_id,
         CASE WHEN nv = 0 THEN m ELSE list_transform(m, x -> x / nv) END AS centroid
  FROM (SELECT cell_id, m, sqrt(list_sum(list_transform(m, x -> x * x))) AS nv FROM {src})
"""

_KM_STEP = """
a{i} AS (
  SELECT cell_id, v FROM (
    SELECT u.vid, u.v, c.cell_id,
           row_number() OVER (
             PARTITION BY u.vid
             ORDER BY list_sum(list_transform(range(1, len(u.v) + 1), j -> u.v[j] * c.centroid[j])) DESC,
                      c.cell_id ASC) AS r
    FROM u, c{prev} c
  ) WHERE r = 1
),
m{i} AS (
  SELECT cell_id, list(cv ORDER BY pos) AS m
  FROM (
    SELECT cell_id, pos, avg(val) AS cv
    FROM (SELECT cell_id, unnest(range(0, len(v))) AS pos, unnest(v) AS val FROM a{i})
    GROUP BY cell_id, pos
  ) GROUP BY cell_id
),
c{i} AS ({norm})
"""

ORACLES["kmeans_centroids"] = f"""
WITH v0 AS (SELECT vec_id::BIGINT AS vid, list_transform(embedding, x -> x::DOUBLE) AS raw FROM embeddings),
u AS (
  SELECT vid,
         CASE WHEN nv = 0 THEN raw ELSE list_transform(raw, x -> x / nv) END AS v
  FROM (SELECT vid, raw, sqrt(list_sum(list_transform(raw, x -> x * x))) AS nv FROM v0)
),
c0 AS (
  SELECT (row_number() OVER (ORDER BY vid) - 1)::BIGINT AS cell_id, v AS centroid
  FROM (SELECT vid, v FROM u ORDER BY vid LIMIT 4)
),
{_KM_STEP.format(i=1, prev=0, norm=_KM_NORM.format(src="m1"))},
{_KM_STEP.format(i=2, prev=1, norm=_KM_NORM.format(src="m2"))}
SELECT cell_id, unnest(range(0, len(centroid)))::BIGINT AS pos,
       round(unnest(centroid), 6) AS val
FROM c2
"""

ORACLES["salted_domain_join"] = f"""
WITH {oracles.spans_cte()},
d AS (
  SELECT did AS doc_id,
         regexp_extract(replace(url, '%3A', ':'), '^https?://([^/]+)', 1) AS domain
  FROM doc_base
)
SELECT doc_id, domain,
       CASE WHEN domain = 'www.espn.com' THEN 'hot' ELSE 'cold' END AS category
FROM d
"""

# multimodal decode, two kernels:
# - video rows: the deterministic FNV-style stand-in
#   (multimodal._fake_decode) re-expressed over the media refs' ASCII
#   bytes — list_reduce with the same 32-bit multiply-accumulate
# - image rows: the REAL BMP kernel's features computed in CLOSED FORM
#   from the synthetic pattern p(x,y,c) = (x + 2y + 37c + seed) % 256
#   (bmp.synth_pattern) — the oracle never touches bytes, so matching
#   the Spark side (which encodes real BMPs and decodes them back)
#   proves the encode -> header-parse -> pixel-extract round trip.
#   Denominators: channel mean 256*255=65280; quadrant luma
#   64*3*255=48960; global luma 256*3*255=195840; min/max luma 765;
#   width/height 16/1024=0.015625.
ORACLES["media_decode"] = f"""
WITH {oracles.spans_cte()},
media AS (
  SELECT did || '#' || out_offset::VARCHAR AS media_id, kind, media_ref,
         (CAST(substr(did, 2) AS BIGINT) * 31 + out_offset * 7) % 256 AS seed
  FROM (
    SELECT did, kind, media_ref,
           (row_number() OVER (PARTITION BY did ORDER BY i, sub) - 1) AS out_offset
    FROM expanded
  )
  WHERE media_ref <> ''
),
vbytes AS (
  SELECT media_id,
         list_transform(range(1, least(length(media_ref), 256) + 1),
                        i -> ord(substr(media_ref, i::INT, 1))) AS bs
  FROM media WHERE kind = 'video'
),
vfeat AS (
  SELECT media_id,
         t.j::BIGINT AS pos,
         round(((list_reduce(list_prepend(xor(2166136261::BIGINT, t.j), bs),
                             (a, b) -> (a * 16777619 + b) & 4294967295)) % 10000)
               / 10000.0, 6) AS val,
         true AS ok
  FROM vbytes, LATERAL unnest(range(0, 16)) t(j)
),
ipx AS (
  SELECT media_id, t1.x, t2.y,
         (t1.x + 2 * t2.y + seed) % 256 AS p0,
         (t1.x + 2 * t2.y + 37 + seed) % 256 AS p1,
         (t1.x + 2 * t2.y + 74 + seed) % 256 AS p2
  FROM media,
  LATERAL unnest(range(0, 16)) t1(x),
  LATERAL unnest(range(0, 16)) t2(y)
  WHERE kind = 'image'
),
iagg AS (
  SELECT media_id,
         sum(p0) AS s0, sum(p1) AS s1, sum(p2) AS s2,
         sum(CASE WHEN y < 8 AND x < 8 THEN p0 + p1 + p2 ELSE 0 END) AS qtl,
         sum(CASE WHEN y < 8 AND x >= 8 THEN p0 + p1 + p2 ELSE 0 END) AS qtr,
         sum(CASE WHEN y >= 8 AND x < 8 THEN p0 + p1 + p2 ELSE 0 END) AS qbl,
         sum(CASE WHEN y >= 8 AND x >= 8 THEN p0 + p1 + p2 ELSE 0 END) AS qbr,
         min(p0 + p1 + p2) AS mn, max(p0 + p1 + p2) AS mx
  FROM ipx GROUP BY media_id
),
ifeat AS (
  SELECT media_id, t.j::BIGINT AS pos,
         round(([s0 / 65280.0, s1 / 65280.0, s2 / 65280.0,
                 qtl / 48960.0, qtr / 48960.0, qbl / 48960.0, qbr / 48960.0,
                 (s0 + s1 + s2) / 195840.0,
                 mn / 765.0, mx / 765.0,
                 0.015625, 0.015625, 0.0, 0.0, 0.0, 0.0])[t.j::INT + 1], 6) AS val,
         true AS ok
  FROM iagg, LATERAL unnest(range(0, 16)) t(j)
)
SELECT * FROM vfeat UNION ALL SELECT * FROM ifeat
"""

# end-to-end learned IVF: the kmeans CTE chain (c2 = fitted, normalized
# centroids) feeding the ann_ivf probe/score/rank pattern
ORACLES["ann_ivf_kmeans"] = f"""
WITH v0 AS (SELECT vec_id::BIGINT AS vid, list_transform(embedding, x -> x::DOUBLE) AS raw FROM embeddings),
u AS (
  SELECT vid,
         CASE WHEN nv = 0 THEN raw ELSE list_transform(raw, x -> x / nv) END AS v
  FROM (SELECT vid, raw, sqrt(list_sum(list_transform(raw, x -> x * x))) AS nv FROM v0)
),
c0 AS (
  SELECT (row_number() OVER (ORDER BY vid) - 1)::BIGINT AS cell_id, v AS centroid
  FROM (SELECT vid, v FROM u ORDER BY vid LIMIT 4)
),
{_KM_STEP.format(i=1, prev=0, norm=_KM_NORM.format(src="m1"))},
{_KM_STEP.format(i=2, prev=1, norm=_KM_NORM.format(src="m2"))},
cells AS (
  SELECT vid, v, cell_id FROM (
    SELECT u.vid, u.v, c.cell_id,
           row_number() OVER (
             PARTITION BY u.vid
             ORDER BY list_sum(list_transform(range(1, len(u.v) + 1), i -> u.v[i] * c.centroid[i])) DESC,
                      c.cell_id ASC) AS r
    FROM u, c2 c
  ) WHERE r = 1
),
probes AS (
  SELECT qid, qv, cell_id FROM (
    SELECT u.vid AS qid, u.v AS qv, c.cell_id,
           row_number() OVER (
             PARTITION BY u.vid
             ORDER BY list_sum(list_transform(range(1, len(u.v) + 1), i -> u.v[i] * c.centroid[i])) DESC,
                      c.cell_id ASC) AS pr
    FROM u, c2 c
    WHERE u.vid < 5
  ) WHERE pr <= 2
),
scored AS (
  SELECT p.qid, cl.vid AS neighbor,
         list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * cl.v[i])) AS cos_raw
  FROM probes p JOIN cells cl USING (cell_id)
  WHERE p.qid <> cl.vid
),
ranked AS (
  SELECT qid, neighbor, cos_raw,
         row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, neighbor ASC)::BIGINT AS rk
  FROM scored
)
SELECT qid, neighbor, round(cos_raw, 6) AS cosine, rk
FROM ranked WHERE rk <= 5
"""

ORACLES["date_normalize_fuzzy"] = f"""
WITH {oracles.spans_cte()},
{oracles._doc_agg_cte()}
SELECT doc_id, publication_date,
       strftime(try_strptime(publication_date, '%b %-d, %Y') + INTERVAL 390 MINUTE,
                '%Y-%m-%d %H:%M:%S') AS fuzzy_ts
FROM classified
WHERE publication_date <> ''
"""

ORACLES["ann_ivf"] = """
WITH v0 AS (SELECT vec_id::BIGINT AS vid, label::BIGINT AS label,
                   list_transform(embedding, x -> x::DOUBLE) AS raw FROM embeddings),
u AS (
  SELECT vid, label,
         CASE WHEN nv = 0 THEN raw ELSE list_transform(raw, x -> x / nv) END AS v
  FROM (SELECT vid, label, raw, sqrt(list_sum(list_transform(raw, x -> x * x))) AS nv FROM v0)
),
cm AS (
  SELECT label AS cell_id, list(cv ORDER BY pos) AS c0
  FROM (
    SELECT label, pos, avg(val) AS cv
    FROM (SELECT label, unnest(range(0, len(raw))) AS pos, unnest(raw) AS val FROM v0)
    GROUP BY label, pos
  ) GROUP BY label
),
cents AS (
  SELECT cell_id,
         CASE WHEN nv = 0 THEN c0 ELSE list_transform(c0, x -> x / nv) END AS centroid
  FROM (SELECT cell_id, c0, sqrt(list_sum(list_transform(c0, x -> x * x))) AS nv FROM cm)
),
cells AS (
  SELECT vid, v, cell_id FROM (
    SELECT u.vid, u.v, c.cell_id,
           row_number() OVER (
             PARTITION BY u.vid
             ORDER BY list_sum(list_transform(range(1, len(u.v) + 1), i -> u.v[i] * c.centroid[i])) DESC,
                      c.cell_id ASC) AS r
    FROM u, cents c
  ) WHERE r = 1
),
probes AS (
  SELECT qid, qv, cell_id FROM (
    SELECT u.vid AS qid, u.v AS qv, c.cell_id,
           row_number() OVER (
             PARTITION BY u.vid
             ORDER BY list_sum(list_transform(range(1, len(u.v) + 1), i -> u.v[i] * c.centroid[i])) DESC,
                      c.cell_id ASC) AS pr
    FROM u, cents c
    WHERE u.vid < 5
  ) WHERE pr <= 2
),
scored AS (
  SELECT p.qid, cl.vid AS neighbor,
         list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * cl.v[i])) AS cos_raw
  FROM probes p JOIN cells cl USING (cell_id)
  WHERE p.qid <> cl.vid
),
ranked AS (
  SELECT qid, neighbor, cos_raw,
         row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, neighbor ASC)::BIGINT AS rk
  FROM scored
)
SELECT qid, neighbor, round(cos_raw, 6) AS cosine, rk
FROM ranked WHERE rk <= 5
"""

# -- round-3: consolidations + new operators --------------------------------
# Registry sizing: the driver snapshots at most 50 queries, so the
# same-grain singles are consolidated (see plans/queries.py mapping
# comment); their SQL is composed verbatim from the originals here.

ORACLES["ann_search"] = (
    "SELECT qid, neighbor, cosine, rk, 'brute' AS method FROM ("
    + ORACLES.pop("ann_topk")
    + ")\nUNION ALL\nSELECT qid, neighbor, cosine, rk, 'ivf' AS method FROM ("
    + ORACLES.pop("ann_ivf")
    + ")"
)

_VS_PARTS = []
for _op, _key in (
    ("parse", "parse_embedding"), ("stride", "stride_downsample"),
    ("rmean", "running_mean"), ("l2", "l2_normalize"),
):
    _VS_PARTS.append(
        f"SELECT vec_id, pos, val, '{_op}' AS op FROM ({ORACLES.pop(_key)})"
    )
ORACLES["vector_scalars"] = "\nUNION ALL\n".join(_VS_PARTS)

ORACLES["text_scalars"] = f"""
SELECT a.doc_id, a.stripped, b.truncated, c.unescaped
FROM ({ORACLES.pop('strip_truncate')}) a
JOIN ({ORACLES.pop('truncate_words')}) b USING (doc_id)
JOIN ({ORACLES.pop('unescape_entities')}) c USING (doc_id)
"""

ORACLES["merge_docs"] = (
    "SELECT doc_id, text_md5, lang, source, n_chars, 'upsert' AS op FROM ("
    + ORACLES.pop("upsert_docs")
    + ")\nUNION ALL\nSELECT doc_id, text_md5, lang, source, n_chars, 'update' AS op FROM ("
    + ORACLES.pop("update_columns")
    + ")"
)

# unassign APPLY subsumes the old cluster_unassign emit-only query
ORACLES.pop("cluster_unassign")
ORACLES["unassign_apply"] = """
WITH m AS (
  SELECT vec_id::BIGINT AS vec_id,
         (CASE WHEN vec_id % 50 = 0 THEN vec_id + 10000 ELSE label END)::BIGINT AS cluster_id,
         label::BIGINT AS orig_label
  FROM embeddings
),
small AS (SELECT cluster_id FROM m GROUP BY cluster_id HAVING count(*) < 2)
SELECT vec_id,
       CASE WHEN cluster_id IN (SELECT cluster_id FROM small) THEN NULL
            ELSE cluster_id END AS cluster_id,
       orig_label
FROM m
"""

# layout parse: the synthetic page-box kernel + reading-order rule of
# operators/layout.py (column bucketing by x-center, sort by page, col,
# y, x, box_id)
ORACLES["layout_linearize"] = """
WITH d AS (
  SELECT doc_id::BIGINT AS doc_id, text, n_chars, (8 + n_chars % 7) AS nb
  FROM documents
),
b AS (
  SELECT doc_id, t.i AS box_id,
         (t.i // 6) AS page,
         (((t.i % 6) // 3) * 300.0 + 20 + (t.i % 5)) AS x,
         (((t.i % 6) % 3) * 250.0 + 40 + (t.i * 3) % 7) AS y,
         260.0 AS w,
         substr(text, (1 + (t.i * 30) % greatest(n_chars - 30, 1))::INT, 30) AS btext
  FROM d, LATERAL unnest(range(0, nb)) AS t(i)
),
k AS (
  SELECT doc_id, box_id, page,
         greatest(0, least(floor((x + w / 2) * 2 / 600.0)::INT, 1)) AS col,
         y, x, btext
  FROM b
)
SELECT doc_id,
       (max(page) + 1)::BIGINT AS n_pages,
       count(*)::BIGINT AS n_boxes,
       string_agg(btext, chr(10) ORDER BY page, col, y, x, box_id) AS linearized
FROM k GROUP BY doc_id
"""

ORACLES["cluster_age_sweep"] = """
WITH c AS (
  SELECT label::BIGINT AS cluster_id, count(*)::BIGINT AS member_count
  FROM embeddings GROUP BY label
),
h AS (SELECT *, md5(cluster_id::VARCHAR) AS hx FROM c)
SELECT cluster_id, member_count,
       CASE WHEN (TIMESTAMP '2026-01-01 00:00:00' + (cluster_id % 7) * INTERVAL 1 DAY)
                 < (TIMESTAMP '2026-01-06 00:00:00' - INTERVAL 3 DAY)
            THEN 'OLD'
            WHEN cluster_id % 2 = 0 THEN 'NEW'
            ELSE 'UPDATED' END AS status,
       CASE WHEN cluster_id % 4 = 0 THEN FALSE
            ELSE (cluster_id % 3 = 0) END AS is_content,
       substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-3' || substr(hx, 14, 3)
         || '-' || printf('%x', (('0x' || substr(hx, 17, 1))::BIGINT % 4 + 8))
         || substr(hx, 18, 3) || '-' || substr(hx, 21, 12) AS cluster_uuid
FROM h
"""

# Hamming-1 simhash: the 16-bit signature CTE is the dedup_simhash SQL
# verbatim; banding = 2x8-bit pigeonhole, verify = popcount(xor) <= 1
ORACLES["dedup_simhash_h1"] = f"""
WITH s AS (SELECT doc_id, simhash AS sig FROM ({ORACLES["dedup_simhash"]})),
banded AS (
  SELECT doc_id, sig, 0 AS band, (sig % 256) AS key FROM s
  UNION ALL
  SELECT doc_id, sig, 1 AS band, (sig // 256) AS key FROM s
),
-- mirror the operator's max_bucket=1000 skew guard: oversized band
-- buckets are dropped before pair expansion
kept AS (
  SELECT * FROM banded
  WHERE (band, key) IN (
    SELECT (band, key) FROM banded GROUP BY band, key
    HAVING count(*) BETWEEN 2 AND 1000
  )
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sa, sb))::BIGINT AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 1
"""

# Vendored-BPE token counts.  Both merge tables (the 66-rule
# functions/tokens.BPE_MERGES and the 1200-rule learned
# functions/bpe_vocab.BPE_MERGES_1K) fold per DISTINCT WORD, not per
# document: no merge symbol contains a space, so the rank-ordered
# left-to-right replace fold never crosses a word boundary and a doc's
# count is the sum of its word counts — the same decomposition
# token_count_bpe_arrow's word cache exploits.  The fold is staged CTEs
# of <=60 nested replace() calls each (flat parser depth); all three
# engines (Java, DuckDB, Python) agree on non-overlapping left-to-right
# replace order.  Folding full delimited doc strings instead measures
# 139 s (1200 rules) / 14 s (66 rules) on sf0.01 vs <1 s this way.
from ..functions.bpe_vocab import BPE_MERGES_1K as _M1K
from ..functions.tokens import BPE_MERGES as _BPE_MERGES

_BD = "\x01"


def _bpe_word_ctes(merges, prefix: str, chunk: int = 60,
                   src: str = "uw", key: str = "w") -> tuple[str, str]:
    """(cte_sql, final_cte_name) folding the rule table over the
    distinct-word CTE ``src(key, s)``'s delimited symbol column s."""

    def q(t: str) -> str:
        return t.replace("'", "''")

    ctes, prev = [], src
    for gi in range(0, len(merges), chunk):
        expr = "s"
        for a, b in merges[gi : gi + chunk]:
            expr = (
                f"replace({expr}, '{_BD}{q(a)}{_BD}{_BD}{q(b)}{_BD}',"
                f" '{_BD}{q(a + b)}{_BD}')"
            )
        name = f"{prefix}{gi // chunk}"
        ctes.append(f"{name} AS (SELECT {key}, {expr} AS s FROM {prev})")
        prev = name
    return ",\n".join(ctes), prev


_g_ctes, _g_last = _bpe_word_ctes(_M1K, "g")
_h_ctes, _h_last = _bpe_word_ctes(_BPE_MERGES, "h")

# BYTE-level vocab (>=10k learned merges, functions/bpe_vocab_bytes.py):
# symbols are UTF-8 bytes as the uppercase hex pairs hex(encode(pt))
# yields, folded per DISTINCT PRE-TOKEN (case-sensitive category runs
# [a-zA-Z]+|[0-9]+|other — merges never cross a pre-token boundary, so
# a word's count is the sum over its pre-tokens, a doc's the sum over
# its words).
from ..functions.bpe_vocab_bytes import BPE_MERGES_BYTES as _MBYTES

_k_ctes, _k_last = _bpe_word_ctes(_MBYTES, "k", src="upt", key="pt")

ORACLES["token_count_bpe"] = f"""
WITH nb AS (
  SELECT doc_id::BIGINT AS doc_id,
         regexp_replace(trim(text), '\\s+', ' ', 'g') AS norm
  FROM documents
),
bw AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM nb
),
bpt AS (
  SELECT w, unnest(regexp_extract_all(w,
         '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9]+')) AS pt
  FROM (SELECT DISTINCT w FROM bw WHERE w <> '')
),
upt AS (
  SELECT pt, regexp_replace(hex(encode(pt)), '(..)', '{_BD}\\1{_BD}', 'g') AS s
  FROM (SELECT DISTINCT pt FROM bpt)
),
{_k_ctes},
ptok AS (
  SELECT pt,
         ((length(s) - length(replace(s, '{_BD}', ''))) // 2)::BIGINT AS ntok
  FROM {_k_last}
),
wtokb AS (
  SELECT bpt.w, sum(ptok.ntok) AS ntok
  FROM bpt JOIN ptok USING (pt) GROUP BY bpt.w
),
cb AS (
  SELECT bw.doc_id, sum(wtokb.ntok) AS n_10k
  FROM bw JOIN wtokb ON bw.w = wtokb.w
  GROUP BY bw.doc_id
),
n AS (
  SELECT doc_id::BIGINT AS doc_id,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
words AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM n
),
uw AS (
  SELECT w, regexp_replace(w, '(.)', '{_BD}\\1{_BD}', 'g') AS s
  FROM (SELECT DISTINCT w FROM words WHERE w <> '')
),
{_g_ctes},
{_h_ctes},
wtok AS (
  SELECT g.w,
         ((length(g.s) - length(replace(g.s, '{_BD}', ''))) // 2)::BIGINT AS ntok_1k,
         ((length(h.s) - length(replace(h.s, '{_BD}', ''))) // 2)::BIGINT AS ntok_66
  FROM {_g_last} g JOIN {_h_last} h ON g.w = h.w
),
c AS (
  SELECT words.doc_id,
         sum(wtok.ntok_1k) AS n_1k, sum(wtok.ntok_66) AS n_66
  FROM words JOIN wtok ON words.w = wtok.w
  GROUP BY words.doc_id
)
SELECT n.doc_id,
       COALESCE(c.n_66, 0)::BIGINT AS n_bpe,
       COALESCE(c.n_1k, 0)::BIGINT AS n_bpe_1k,
       COALESCE(cb.n_10k, 0)::BIGINT AS n_bpe_10k,
       (CASE WHEN trim(norm) = '' THEN 0
             ELSE len(string_split_regex(trim(norm), '\\s+')) END)::BIGINT AS n_ws
FROM n LEFT JOIN c ON n.doc_id = c.doc_id
LEFT JOIN cb ON n.doc_id = cb.doc_id
"""

# round 4: raw-HTML DOM tokenizer round trip. The oracle never sees
# HTML — it derives the span tuples arithmetically from `documents`
# (the same raw_spans CTE the extraction oracles use), so a hash match
# proves render_html -> tokenize_html reproduced the corpus exactly.
ORACLES["html_tokenize"] = f"""
WITH {oracles.spans_cte()}
SELECT did AS doc_id, i::BIGINT AS offset, kind, raw AS text, media_ref
FROM raw_spans
"""
