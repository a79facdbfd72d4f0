"""DuckDB-SQL twins of every SQL-expressible pipeline stage.

The driver registers the testdata parquet files as DuckDB views (``documents``
etc.) and compares each ``queries()`` DataFrame against the matching SQL here
(row count + schema + order-insensitive value hash). The CTE chain below
re-derives, in pure ANSI-ish SQL, exactly what the Spark operators compute:

    documents -> spans -> chunks -> mentions/triples
                       -> media spans -> image mentions/triples
                       -> fusion merge_map
    text + image mentions/triples, rewired by merge_map -> nodes/edges

``nodes``/``edges`` are the one graph the build serves, the fused graph
(the ``Pipeline`` graph stage); the query CTEs read them under those names.

Keeping this in one place guarantees all oracles share one definition of the
synthetic derivation rules (mmgraphrag_spark.synth / config.py).
"""

from __future__ import annotations

import re

from .config import DEFAULT, PipelineConfig


def materialized(sql: str) -> str:
    """``sql`` with every CTE but the first marked ``MATERIALIZED``: the same
    rows, but DuckDB evaluates each CTE once instead of once per reference.
    Inlined, the fusion chain under the served nodes/edges (comp, mmap and
    the fused relations are each read more than once) exhausts DuckDB's
    memory on five documents."""
    return re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def cte_prefix(cfg: PipelineConfig = DEFAULT) -> str:
    """The shared CTE chain every oracle query reads, materialized."""
    return materialized(_ctes(cfg))


def _sum(desc_expr: str, cfg: PipelineConfig) -> str:
    """A1/A2 summarization twin (canonicalize.summarize_description)."""
    toks = f"string_split({desc_expr}, ' ')"
    return (
        f"CASE WHEN len({toks}) >= {cfg.summary_max_tokens}"
        f" THEN array_to_string(list_slice({toks}, 1, {cfg.summary_keep_tokens}), ' ')"
        f" || ' <SUMMARY ' || CAST(len({toks}) AS VARCHAR) || ' tokens>'"
        f" ELSE {desc_expr} END"
    )


def graph_ctes(cfg: PipelineConfig = DEFAULT) -> str:
    """The served ``nodes``/``edges`` (the Pipeline graph stage) from
    ``fused_mentions``/``fused_triples``: A1/A2, then the stub rule
    (canonicalize.add_stub_nodes): an edge endpoint without a node becomes
    an UNKNOWN node carrying its first incident edge by (description,
    source_id)."""
    desc_agg = "string_agg(DISTINCT {t}description, '<SEP>' ORDER BY {t}description)"
    node_desc = _sum(desc_agg.format(t="n."), cfg) + " AS description"
    edge_desc = _sum(desc_agg.format(t=""), cfg) + " AS description"
    return f"""typecnt AS (
  SELECT entity_name, entity_type, count(*) AS cnt FROM fused_mentions GROUP BY 1, 2
),
toptype AS (
  SELECT entity_name, entity_type FROM (
    SELECT *, row_number() OVER (PARTITION BY entity_name
                                 ORDER BY cnt DESC, entity_type ASC) AS rn
    FROM typecnt
  ) t WHERE rn = 1
),
merged_nodes AS (
  SELECT n.entity_name, t.entity_type,
         {node_desc},
         string_agg(DISTINCT n.source_id, '<SEP>' ORDER BY n.source_id) AS source_id
  FROM fused_mentions n JOIN toptype t USING (entity_name)
  GROUP BY n.entity_name, t.entity_type
),
edges AS (
  SELECT subj AS src, obj AS dst,
         sum(weight) AS weight,
         {edge_desc},
         string_agg(DISTINCT source_id, '<SEP>' ORDER BY source_id) AS source_id,
         min("order") AS "order"
  FROM fused_triples GROUP BY 1, 2
),
nodes AS (
  SELECT * FROM merged_nodes
  UNION ALL
  SELECT entity_name, 'UNKNOWN' AS entity_type, description, source_id FROM (
    SELECT e.*, row_number() OVER (
             PARTITION BY entity_name
             ORDER BY description NULLS FIRST, source_id NULLS FIRST) AS rn
    FROM (SELECT src AS entity_name, description, source_id FROM edges
          UNION ALL SELECT dst, description, source_id FROM edges) e
    WHERE NOT EXISTS (SELECT 1 FROM merged_nodes m
                      WHERE m.entity_name = e.entity_name)
  ) s WHERE rn = 1
)
"""


def _ctes(cfg: PipelineConfig) -> str:
    """``cte_prefix`` with every CTE inlined, DuckDB's default."""
    w = cfg.span_words
    every = cfg.media_every
    mod = cfg.media_doc_mod
    cap = cfg.caption_words
    step = cfg.chunk_max_tokens - cfg.chunk_overlap_tokens
    mx = cfg.chunk_max_tokens
    mlen = cfg.mention_min_len
    clen = cfg.concept_min_len
    K = cfg.fusion_window
    dims = cfg.trigram_dims
    knn = cfg.fusion_knn
    SC = 10**8   # fusion.TRIGRAM_SCALE
    RS = 10**12  # fusion.RANK_SCALE
    merge_t2 = int(round(cfg.merge_cos * cfg.merge_cos * SC))
    cluster_t2 = int(round(cfg.cluster_cos * cfg.cluster_cos * SC))
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id AS orig_id,
         'doc' || CAST(doc_id AS VARCHAR) AS doc_id,
         string_split(text, ' ') AS w,
         CAST(ceil(len(string_split(text, ' ')) / {w}.0) AS INT) AS n_spans
  FROM documents
),
idx AS (
  SELECT orig_id, doc_id, w, CAST(u.i AS INT) AS i
  FROM toks, UNNEST(range(n_spans)) AS u(i)
),
tspans AS (
  SELECT doc_id, i, 0 AS sub, 'text' AS kind,
         array_to_string(list_slice(w, i*{w}+1, i*{w}+{w}), ' ') AS text,
         '' AS media_ref
  FROM idx
),
mspans AS (
  SELECT doc_id, i, 1 AS sub, 'image' AS kind,
         array_to_string(list_slice(w, i*{w}+1, i*{w}+{cap}), ' ') AS text,
         doc_id || '/image_' || CAST((i+1)//{every} AS VARCHAR) AS media_ref
  FROM idx WHERE orig_id % {mod} = 0 AND (i+1) % {every} = 0
),
spans AS (
  SELECT doc_id, kind, text, media_ref,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i, sub) - 1 AS INT) AS "offset"
  FROM (SELECT * FROM tspans UNION ALL SELECT * FROM mspans) u
),
chunk_raw AS (
  SELECT doc_id,
         CAST(u.i AS INT) AS chunk_order_index,
         array_to_string(list_slice(w, i*{step}+1, i*{step}+{mx}), ' ') AS content,
         CAST(len(list_slice(w, i*{step}+1, i*{step}+{mx})) AS INT) AS tokens
  FROM (SELECT doc_id, w, CAST(ceil(len(w)/{step}.0) AS INT) AS n_chunks FROM toks) c,
       UNNEST(range(n_chunks)) AS u(i)
),
chunks AS (
  SELECT chunk_id, doc_id, chunk_order_index, tokens, content FROM (
    SELECT 'chunk-' || md5(content) AS chunk_id, doc_id, chunk_order_index, tokens, content,
           row_number() OVER (PARTITION BY md5(content)
                              ORDER BY doc_id, chunk_order_index) AS rn
    FROM chunk_raw
  ) d WHERE rn = 1
),
ctoks AS (
  SELECT doc_id, chunk_id, CAST(u.i AS INT) AS pos,
         string_split(content, ' ')[CAST(u.i AS INT) + 1] AS tok
  FROM chunks, UNNEST(range(len(string_split(content, ' ')))) AS u(i)
),
ments AS (
  SELECT doc_id, chunk_id, pos,
         upper(tok) AS entity_name,
         CASE WHEN len(tok) >= {clen} THEN 'CONCEPT'
              WHEN pos % 2 = 0 THEN 'TERM' ELSE 'LABEL' END AS entity_type,
         tok || ' in ' || chunk_id AS description,
         chunk_id AS source_id
  FROM ctoks WHERE len(tok) >= {mlen}
),
mentions AS (
  SELECT DISTINCT doc_id, chunk_id, entity_name, entity_type, description, source_id
  FROM ments
),
mseq AS (
  SELECT *, row_number() OVER (PARTITION BY chunk_id ORDER BY pos) AS rnk FROM ments
),
triples AS (
  SELECT a.doc_id, a.chunk_id,
         least(a.entity_name, b.entity_name) AS subj,
         greatest(a.entity_name, b.entity_name) AS obj,
         'co-occurs' AS description,
         CAST(1.0 AS DOUBLE) AS weight,
         a.chunk_id AS source_id,
         1 AS "order"
  FROM mseq a JOIN mseq b ON a.chunk_id = b.chunk_id AND b.rnk = a.rnk + 1
  WHERE a.entity_name <> b.entity_name
),
media AS (
  SELECT doc_id, media_ref, text AS context, "offset" AS media_offset
  FROM spans WHERE kind = 'image'
),
img_scene_raw AS (
  SELECT m.doc_id, m.media_ref, CAST(u.i AS INT) AS pos,
         string_split(m.context, ' ')[CAST(u.i AS INT) + 1] AS tok
  FROM media m, UNNEST(range(len(string_split(m.context, ' ')))) AS u(i)
),
img_scene AS (
  SELECT DISTINCT doc_id, media_ref,
         upper(tok) || '@' || upper(media_ref) AS entity_name,
         CASE WHEN len(tok) >= {clen} THEN 'CONCEPT'
              WHEN pos % 2 = 0 THEN 'TERM' ELSE 'LABEL' END AS entity_type,
         tok || ' in ' || media_ref AS description,
         media_ref AS source_id
  FROM img_scene_raw WHERE len(tok) >= {mlen}
),
img_objects AS (
  SELECT DISTINCT doc_id, media_ref,
         upper(media_ref) || '/' || upper(tok) AS entity_name,
         'IMG' AS entity_type,
         'object ' || tok AS description,
         media_ref AS source_id
  FROM img_scene_raw WHERE len(tok) >= 4 AND len(tok) < {mlen}
),
ori_img AS (
  SELECT doc_id, upper(media_ref) AS entity_name, 'ORI_IMG' AS entity_type,
         'image ' || media_ref || ': ' || context AS description,
         media_ref AS source_id, media_ref
  FROM media
),
img_mentions AS (
  SELECT doc_id, entity_name, entity_type, description, source_id FROM img_scene
  UNION ALL
  SELECT doc_id, entity_name, entity_type, description, source_id FROM img_objects
  UNION ALL
  SELECT doc_id, entity_name, entity_type, description, source_id FROM ori_img
),
-- E9 alignment twin (media.alignment_triples): per object crop, the scene
-- entity with max exact trigram cosine (ties -> min scene name), weight 10
al_objs AS (
  SELECT DISTINCT doc_id, media_ref,
         upper(media_ref) || '/' || upper(tok) AS obj_name, upper(tok) AS osurf
  FROM img_scene_raw WHERE len(tok) >= 4 AND len(tok) < {mlen}
),
al_scns AS (
  SELECT DISTINCT doc_id, media_ref,
         upper(tok) || '@' || upper(media_ref) AS scn_name, upper(tok) AS ssurf
  FROM img_scene_raw WHERE len(tok) >= {mlen}
),
al_surf AS (
  SELECT DISTINCT s FROM (
    SELECT osurf AS s FROM al_objs UNION SELECT ssurf AS s FROM al_scns
  ) u
),
al_vec AS (
  SELECT s, ('0x' || substr(md5(t), 1, 4))::BIGINT % {dims} AS bucket,
         CAST(sum(CASE WHEN ('0x' || substr(md5(t), 5, 1))::BIGINT % 2 = 0
                       THEN 1 ELSE -1 END) AS BIGINT) AS v
  FROM (
    SELECT s, unnest([substr(s, i + 1, 3) for i in range(greatest(length(s) - 2, 1))]) AS t
    FROM al_surf
  ) g GROUP BY 1, 2
),
al_norm AS (SELECT s, CAST(sum(v * v) AS BIGINT) AS n2 FROM al_vec GROUP BY 1),
al_need AS (
  SELECT DISTINCT o.osurf, s.ssurf FROM al_objs o JOIN al_scns s USING (doc_id, media_ref)
),
al_dots AS (
  SELECT n.osurf, n.ssurf, CAST(coalesce(sum(a.v * b.v), 0) AS BIGINT) AS dot
  FROM al_need n
  LEFT JOIN al_vec a ON a.s = n.osurf
  LEFT JOIN al_vec b ON b.s = n.ssurf AND b.bucket = a.bucket
  GROUP BY 1, 2
),
al_best AS (
  SELECT doc_id, media_ref, obj_name, scn_name FROM (
    SELECT p.doc_id, p.media_ref, p.obj_name, p.scn_name,
           row_number() OVER (PARTITION BY p.doc_id, p.media_ref, p.obj_name
             ORDER BY (CASE WHEN d.dot >= 0 THEN 1 ELSE -1 END)
                      * ((d.dot * d.dot * 1000000000000) // greatest(na.n2 * nb.n2, 1)) DESC,
                      p.scn_name ASC) AS rn
    FROM (
      SELECT o.doc_id, o.media_ref, o.obj_name, o.osurf, s.scn_name, s.ssurf
      FROM al_objs o JOIN al_scns s USING (doc_id, media_ref)
    ) p
    JOIN al_dots d ON d.osurf = p.osurf AND d.ssurf = p.ssurf
    JOIN al_norm na ON na.s = p.osurf
    JOIN al_norm nb ON nb.s = p.ssurf
  ) t WHERE rn = 1
),
img_triples AS (
  SELECT doc_id,
         least(entity_name, upper(media_ref)) AS subj,
         greatest(entity_name, upper(media_ref)) AS obj,
         'contained in image' AS description,
         CAST(10.0 AS DOUBLE) AS weight,
         media_ref AS source_id,
         1 AS "order"
  FROM (
    SELECT doc_id, media_ref, entity_name FROM img_scene
    UNION ALL
    SELECT doc_id, media_ref, entity_name FROM img_objects
  ) e
  UNION ALL
  SELECT doc_id, least(obj_name, scn_name) AS subj,
         greatest(obj_name, scn_name) AS obj,
         'depicts' AS description, CAST(10.0 AS DOUBLE) AS weight,
         media_ref AS source_id, 1 AS "order"
  FROM al_best
),
all_mentions AS (
  SELECT entity_name, entity_type, description, source_id FROM mentions
  UNION ALL
  SELECT entity_name, entity_type, description, source_id FROM img_mentions
),
all_triples AS (
  SELECT subj, obj, description, weight, source_id, "order" FROM triples
  UNION ALL
  SELECT subj, obj, description, weight, source_id, "order" FROM img_triples
),
wordpos AS (
  SELECT doc_id, CAST(u.i AS INT) AS wpos, w[CAST(u.i AS INT) + 1] AS tok
  FROM toks, UNNEST(range(len(w))) AS u(i)
),
media_anchor AS (
  SELECT doc_id, media_ref,
         (CAST(regexp_extract(media_ref, '_(\\d+)$', 1) AS INT) * {every} - 1) * {w} AS anchor
  FROM media
),
nearby AS (
  SELECT DISTINCT a.doc_id, a.media_ref, upper(t.tok) AS entity_name
  FROM media_anchor a JOIN wordpos t ON a.doc_id = t.doc_id
   AND t.wpos >= a.anchor - {K} AND t.wpos < a.anchor + {K}
  WHERE len(t.tok) >= {mlen}
),
-- trigram-embedding fusion twin (fusion.py trigram_vector/_fuse_partition, exact
-- int64 fixed-point throughout): signed feature-hashed char-3-gram vectors,
-- M6 clusters = connected components of the cos>=cluster_cos affinity
-- (recursive min-label propagation), M5 = kNN majority-label transfer over
-- the exact cosine order, M7 = merge iff nearest in-cluster text entity
-- clears merge_cos
img_fuse AS (
  -- one row per scene entity name (img_scene keeps per-type variants; the
  -- fusion block input dedups to names, fusion.py fusion_blocks 'scene')
  SELECT DISTINCT doc_id, media_ref, entity_name,
         split_part(entity_name, '@', 1) AS surface
  FROM img_scene
),
tri_names AS (
  SELECT DISTINCT s FROM (
    SELECT surface AS s FROM img_fuse
    UNION
    SELECT entity_name AS s FROM nearby
  ) u
),
tri_grams AS (
  SELECT s, unnest([substr(s, i + 1, 3) for i in range(greatest(length(s) - 2, 1))]) AS t
  FROM tri_names
),
tri_vecs AS (
  SELECT s, d, v FROM (
    SELECT s, ('0x' || substr(md5(t), 1, 4))::BIGINT % {dims} AS d,
           CAST(sum(CASE WHEN ('0x' || substr(md5(t), 5, 1))::BIGINT % 2 = 0
                         THEN 1 ELSE -1 END) AS BIGINT) AS v
    FROM tri_grams GROUP BY 1, 2
  ) z WHERE v <> 0
),
tri_norms AS (SELECT s, CAST(sum(v * v) AS BIGINT) AS n2 FROM tri_vecs GROUP BY 1),
need_pairs AS (
  SELECT DISTINCT sa, sb FROM (
    SELECT a.entity_name AS sa, b.entity_name AS sb
    FROM nearby a JOIN nearby b
      ON a.doc_id = b.doc_id AND a.media_ref = b.media_ref
     AND a.entity_name < b.entity_name
    UNION
    SELECT s.surface AS sa, n.entity_name AS sb
    FROM img_fuse s JOIN nearby n
      ON s.doc_id = n.doc_id AND s.media_ref = n.media_ref
  ) u
),
tri_dots AS (
  SELECT p.sa, p.sb, CAST(coalesce(sum(va.v * vb.v), 0) AS BIGINT) AS dot
  FROM need_pairs p
  LEFT JOIN tri_vecs va ON va.s = p.sa
  LEFT JOIN tri_vecs vb ON vb.s = p.sb AND vb.d = va.d
  GROUP BY 1, 2
),
tt_edges AS (
  SELECT a.doc_id, a.media_ref, a.entity_name AS x, b.entity_name AS y
  FROM nearby a
  JOIN nearby b ON a.doc_id = b.doc_id AND a.media_ref = b.media_ref
              AND a.entity_name < b.entity_name
  JOIN tri_dots d ON d.sa = a.entity_name AND d.sb = b.entity_name
  JOIN tri_norms nx ON nx.s = a.entity_name
  JOIN tri_norms ny ON ny.s = b.entity_name
  WHERE d.dot > 0 AND d.dot * d.dot * {SC} >= {cluster_t2} * nx.n2 * ny.n2
),
tt_bi AS (
  SELECT doc_id, media_ref, x, y FROM tt_edges
  UNION ALL
  SELECT doc_id, media_ref, y AS x, x AS y FROM tt_edges
),
reach AS (
  SELECT doc_id, media_ref, entity_name AS nm, entity_name AS rep FROM nearby
  UNION
  SELECT e.doc_id, e.media_ref, e.y AS nm, r.rep
  FROM reach r JOIN tt_bi e
    ON e.doc_id = r.doc_id AND e.media_ref = r.media_ref AND e.x = r.nm
),
comp AS (
  SELECT doc_id, media_ref, nm, min(rep) AS rep FROM reach GROUP BY 1, 2, 3
),
comp_lbl AS (
  SELECT doc_id, media_ref, nm, rep,
         CAST(dense_rank() OVER (PARTITION BY doc_id, media_ref ORDER BY rep)
              - 1 AS BIGINT) AS label
  FROM comp
),
img_cand AS (
  SELECT s.doc_id, s.media_ref, s.entity_name AS img_name,
         n.entity_name AS txt_name, d.dot, ni.n2 AS ni2, nt.n2 AS nt2,
         CAST(CASE WHEN d.dot >= 0 THEN 1 ELSE -1 END
              * ((d.dot * d.dot * {RS}) // greatest(ni.n2 * nt.n2, 1))
              AS BIGINT) AS rank_key
  FROM img_fuse s
  JOIN nearby n ON s.doc_id = n.doc_id AND s.media_ref = n.media_ref
  JOIN tri_dots d ON d.sa = s.surface AND d.sb = n.entity_name
  JOIN tri_norms ni ON ni.s = s.surface
  JOIN tri_norms nt ON nt.s = n.entity_name
),
knn_top AS (
  SELECT * FROM (
    SELECT c.*, row_number() OVER (PARTITION BY doc_id, media_ref, img_name
                                   ORDER BY rank_key DESC, txt_name ASC) AS rn
    FROM img_cand c
  ) t WHERE rn <= {knn}
),
maj AS (
  -- majority component over the k nearest; ties -> component of the nearest
  -- candidate (min rn), mirroring _fuse_partition
  SELECT doc_id, media_ref, img_name, rep FROM (
    SELECT g.*, row_number() OVER (PARTITION BY doc_id, media_ref, img_name
                                   ORDER BY cnt DESC, best_rn ASC) AS rn
    FROM (
      SELECT k.doc_id, k.media_ref, k.img_name, c.rep, count(*) AS cnt,
             min(k.rn) AS best_rn
      FROM knn_top k JOIN comp c
        ON c.doc_id = k.doc_id AND c.media_ref = k.media_ref
       AND c.nm = k.txt_name
      GROUP BY 1, 2, 3, 4
    ) g
  ) t WHERE rn = 1
),
tgt AS (
  SELECT doc_id, media_ref, img_name, txt_name, dot, ni2, nt2 FROM (
    SELECT c.doc_id, c.media_ref, c.img_name, c.txt_name, c.dot, c.ni2, c.nt2,
           row_number() OVER (PARTITION BY c.doc_id, c.media_ref, c.img_name
                              ORDER BY c.rank_key DESC, c.txt_name ASC) AS rn
    FROM img_cand c
    JOIN comp cc ON cc.doc_id = c.doc_id AND cc.media_ref = c.media_ref
                AND cc.nm = c.txt_name
    JOIN maj m ON m.doc_id = c.doc_id AND m.media_ref = c.media_ref
              AND m.img_name = c.img_name AND cc.rep = m.rep
  ) t WHERE rn = 1
),
merge_map AS (
  SELECT DISTINCT doc_id, media_ref, img_name AS old_name, txt_name AS new_name
  FROM tgt WHERE dot > 0 AND dot * dot * {SC} >= {merge_t2} * ni2 * nt2
),
mmap AS (SELECT DISTINCT old_name, new_name FROM merge_map),
fused_mentions AS (
  SELECT coalesce(mm.new_name, a.entity_name) AS entity_name,
         a.entity_type, a.description, a.source_id
  FROM all_mentions a LEFT JOIN mmap mm ON a.entity_name = mm.old_name
),
fused_triples AS (
  SELECT least(s2, o2) AS subj, greatest(s2, o2) AS obj,
         description, weight, source_id, "order"
  FROM (
    SELECT coalesce(m1.new_name, t.subj) AS s2,
           coalesce(m2.new_name, t.obj) AS o2,
           t.description, t.weight, t.source_id, t."order"
    FROM all_triples t
    LEFT JOIN mmap m1 ON t.subj = m1.old_name
    LEFT JOIN mmap m2 ON t.obj = m2.old_name
  ) x
),
{graph_ctes(cfg)}"""


# ---- final SELECTs, one per driver-checked query ---------------------------

def spans_select() -> str:
    return 'SELECT doc_id, kind, text, media_ref, "offset" FROM spans'


def media_context_select(n_words: int) -> str:
    """S3 media-context walk (reference pdf2md_preprocessing.py:416-440):
    before = last n words of all preceding text spans, after = first n of
    all following; context = trim(before || ' ' || after)."""
    return f"""
SELECT doc_id, media_ref,
       trim(concat_ws(' ',
         array_to_string(list_slice(bw, greatest(len(bw) - {n_words} + 1, 1),
                                    len(bw)), ' '),
         array_to_string(list_slice(aw, 1, {n_words}), ' '))) AS context
FROM (
  SELECT doc_id, media_ref, kind,
         string_split(coalesce(string_agg(CASE WHEN kind = 'text' THEN text END,
                                          ' ') OVER w_b, ''), ' ') AS bw,
         string_split(coalesce(string_agg(CASE WHEN kind = 'text' THEN text END,
                                          ' ') OVER w_a, ''), ' ') AS aw
  FROM spans
  WINDOW
    w_b AS (PARTITION BY doc_id ORDER BY "offset"
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_a AS (PARTITION BY doc_id ORDER BY "offset"
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
) t WHERE kind = 'image'
"""


def roundtrip_spans_select(n_chars: int = 100) -> str:
    """S1/S2 serialize∘parse twin (docx.py / pdf.py round-trip queries).

    A real .docx/.pdf carries no caption column, so the parsers re-derive
    each image's context as the reference does (preprocessing.py:215-236):
    before = last n CHARS of the concatenation of all preceding paragraph
    texts (no separator), after = first n chars of the following ones,
    context = trim(trim(before) || ' ' || trim(after)). Text spans and
    media_ref/offset round-trip identically."""
    return f"""
SELECT doc_id, kind,
       CASE WHEN kind = 'text' THEN text
            ELSE trim(trim(right(bc, {n_chars})) || ' ' ||
                      trim(left(ac, {n_chars}))) END AS text,
       media_ref, "offset"
FROM (
  SELECT doc_id, kind, text, media_ref, "offset",
         coalesce(string_agg(CASE WHEN kind = 'text' THEN text END, '')
                  OVER w_b, '') AS bc,
         coalesce(string_agg(CASE WHEN kind = 'text' THEN text END, '')
                  OVER w_a, '') AS ac
  FROM spans
  WINDOW
    w_b AS (PARTITION BY doc_id ORDER BY "offset"
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_a AS (PARTITION BY doc_id ORDER BY "offset"
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
) t
"""


def chunks_select() -> str:
    return "SELECT chunk_id, doc_id, chunk_order_index, tokens, content FROM chunks"


def mentions_select() -> str:
    return (
        "SELECT doc_id, chunk_id, entity_name, entity_type, description, source_id"
        " FROM mentions"
    )


def mentions_gleaned_select(cfg: PipelineConfig = DEFAULT, rounds: int = 1) -> str:
    """E1 gleaning twin: base mentions plus every gleaning round's recovered
    tokens — round r digs up tokens of length mention_min_len-1-r (floored
    at the extractor's GLEAN_FLOOR), tagged '(gleaned)'."""
    from .operators.extractor import GLEAN_FLOOR

    mlen, clen = cfg.mention_min_len, cfg.concept_min_len
    lo = max(mlen - rounds, GLEAN_FLOOR)
    return f"""
SELECT doc_id, chunk_id, entity_name, entity_type, description, source_id
FROM mentions
UNION
SELECT DISTINCT doc_id, chunk_id, upper(tok) AS entity_name,
       CASE WHEN len(tok) >= {clen} THEN 'CONCEPT'
            WHEN pos % 2 = 0 THEN 'TERM' ELSE 'LABEL' END AS entity_type,
       tok || ' in ' || chunk_id || ' (gleaned)' AS description,
       chunk_id AS source_id
FROM ctoks WHERE len(tok) BETWEEN {lo} AND {mlen - 1}
"""


def triples_select() -> str:
    return (
        'SELECT doc_id, chunk_id, subj, obj, description, weight, source_id, "order"'
        " FROM triples"
    )


# A5 node degree over the edge list: the stored nodes.degree /
# edges.edge_rank columns (canonicalize.with_degree / with_edge_rank)
_NODE_DEGREE = """(
  SELECT entity_name, count(*) AS degree FROM (
    SELECT src AS entity_name FROM edges
    UNION ALL SELECT dst AS entity_name FROM edges
  ) u GROUP BY 1
)"""


def nodes_select() -> str:
    return f"""
SELECT n.entity_name, n.entity_type, n.description, n.source_id,
       CAST(coalesce(d.degree, 0) AS BIGINT) AS degree
FROM nodes n LEFT JOIN {_NODE_DEGREE} d USING (entity_name)
"""


def edges_select() -> str:
    return f"""
SELECT e.src, e.dst, e.weight, e.description, e.source_id, e."order",
       CAST(ds.degree + dd.degree AS BIGINT) AS edge_rank
FROM edges e
JOIN {_NODE_DEGREE} ds ON ds.entity_name = e.src
JOIN {_NODE_DEGREE} dd ON dd.entity_name = e.dst
"""


def img_mentions_select() -> str:
    return (
        "SELECT doc_id, entity_name, entity_type, description, source_id"
        " FROM img_mentions"
    )


def img_triples_select() -> str:
    return (
        'SELECT doc_id, subj, obj, description, weight, source_id, "order"'
        " FROM img_triples"
    )


def media_chunk_match_select(cfg: PipelineConfig = DEFAULT) -> str:
    return """
SELECT doc_id, media_ref, chunk_id, score FROM (
  SELECT s.doc_id, s.media_ref, s.chunk_id, s.score,
         row_number() OVER (PARTITION BY s.media_ref
                            ORDER BY s.score DESC, s.chunk_order_index ASC,
                                     s.chunk_id ASC) AS rn
  FROM (
    SELECT c.doc_id, c.media_ref, v.chunk_id, v.chunk_order_index,
           count(*) AS score
    FROM (
      SELECT m.doc_id, m.media_ref,
             string_split(m.context, ' ')[CAST(u.i AS INT) + 1] AS tok
      FROM media m, UNNEST(range(len(string_split(m.context, ' ')))) AS u(i)
    ) c
    JOIN (
      SELECT doc_id, chunk_id, chunk_order_index,
             unnest(list_distinct(string_split(content, ' '))) AS tok
      FROM chunks
    ) v ON c.doc_id = v.doc_id AND c.tok = v.tok
    GROUP BY 1, 2, 3, 4
  ) s
) b WHERE rn = 1
"""


def _qctx_ctes(cfg: PipelineConfig = DEFAULT) -> str:
    toks = ", ".join(f"'{t.upper()}'" for t in cfg.qctx_query.split())
    return f"""
deg AS (
  SELECT entity_name, count(*) AS degree FROM (
    SELECT src AS entity_name FROM edges
    UNION ALL SELECT dst AS entity_name FROM edges
  ) u GROUP BY 1
),
seeds AS (
  SELECT entity_name, entity_type, degree, rnk FROM (
    SELECT n.entity_name, n.entity_type,
           coalesce(d.degree, 0) AS degree,
           row_number() OVER (ORDER BY coalesce(d.degree, 0) DESC,
                              n.entity_name ASC) AS rnk
    FROM nodes n LEFT JOIN deg d USING (entity_name)
    WHERE n.entity_name IN ({toks})
  ) s WHERE rnk <= {cfg.qctx_k}
),
touching AS (
  SELECT e.* FROM edges e
  WHERE EXISTS (SELECT 1 FROM seeds s
                WHERE s.entity_name = e.src OR s.entity_name = e.dst)
)"""


def qctx_seeds_sql(cfg: PipelineConfig = DEFAULT) -> str:
    return (
        cte_prefix(cfg) + "," + _qctx_ctes(cfg)
        + "\nSELECT entity_name, entity_type, degree, rnk FROM seeds"
    )


def qctx_edges_sql(cfg: PipelineConfig = DEFAULT) -> str:
    return (
        cte_prefix(cfg) + "," + _qctx_ctes(cfg) + f""",
ranked AS (
  SELECT t.src, t.dst, t.weight, t.description,
         CAST(ds.degree + dd.degree AS BIGINT) AS edge_rank
  FROM touching t
  JOIN deg ds ON ds.entity_name = t.src
  JOIN deg dd ON dd.entity_name = t.dst
),
runn AS (
  SELECT src, dst, weight, description, edge_rank,
         sum(length(description)) OVER (
           ORDER BY edge_rank DESC, weight DESC, src ASC, dst ASC
           ROWS UNBOUNDED PRECEDING) AS running_tokens
  FROM ranked
)
SELECT src, dst, weight, description, edge_rank,
       CAST(running_tokens AS BIGINT) AS running_tokens
FROM runn WHERE running_tokens <= {cfg.qctx_token_budget}
"""
    )


def qctx_chunks_sql(cfg: PipelineConfig = DEFAULT, token_budget: int = 400) -> str:
    return (
        cte_prefix(cfg) + "," + _qctx_ctes(cfg) + f""",
seed_chunks AS (
  SELECT DISTINCT cid AS chunk_id FROM (
    SELECT unnest(string_split(n.source_id, '<SEP>')) AS cid
    FROM nodes n WHERE EXISTS (SELECT 1 FROM seeds s WHERE s.entity_name = n.entity_name)
  ) u WHERE cid LIKE 'chunk-%'
),
edge_cites AS (
  SELECT cid AS chunk_id, count(*) AS relation_counts FROM (
    SELECT unnest(string_split(source_id, '<SEP>')) AS cid FROM touching
  ) u GROUP BY 1
),
ranked_chunks AS (
  SELECT c.chunk_id, c.doc_id, c.chunk_order_index,
         CAST(c.tokens AS BIGINT) AS tokens,
         CAST(coalesce(e.relation_counts, 0) AS BIGINT) AS relation_counts
  FROM seed_chunks s JOIN chunks c USING (chunk_id)
  LEFT JOIN edge_cites e ON e.chunk_id = c.chunk_id
),
runn_chunks AS (
  SELECT *, sum(tokens) OVER (
           ORDER BY chunk_order_index ASC, relation_counts DESC, chunk_id ASC
           ROWS UNBOUNDED PRECEDING) AS running_tokens
  FROM ranked_chunks
)
SELECT chunk_id, doc_id, chunk_order_index, tokens, relation_counts,
       CAST(running_tokens AS BIGINT) AS running_tokens
FROM runn_chunks WHERE running_tokens <= {token_budget}
"""
    )


def top_media_sql(cfg: PipelineConfig = DEFAULT, n: int = 3) -> str:
    return (
        cte_prefix(cfg)
        + f"""
SELECT entity_name, entity_type, source_id FROM nodes
WHERE entity_type = 'ORI_IMG' ORDER BY entity_name LIMIT {n}
"""
    )


def qctx_onehop_sql(cfg: PipelineConfig = DEFAULT) -> str:
    return (
        cte_prefix(cfg) + "," + _qctx_ctes(cfg) + """
SELECT h.entity_name, n.entity_type FROM (
  SELECT DISTINCT entity_name FROM (
    SELECT src AS entity_name FROM touching
    UNION ALL SELECT dst AS entity_name FROM touching
  ) u
) h JOIN nodes n USING (entity_name)
"""
    )


# ---- context rendering + answer prompt (the final query deliverable) ------

# the full character set Python's str.strip() removes (str.isspace() == True):
# ASCII ws incl. \v \f and the C1 separators, then the Unicode space family
_PY_STRIP_WS = (
    "' ' || "
    + " || ".join(
        f"chr({c})"
        for c in (
            9, 10, 11, 12, 13, 28, 29, 30, 31, 133, 160, 5760,
            *range(0x2000, 0x200B), 0x2028, 0x2029, 0x202F, 0x205F, 0x3000,
        )
    )
)


def _stripq(x: str) -> str:
    """SQL twin of query_ctx._enclose's string normalization:
    str(v).strip().strip("'").strip('"') — whitespace, then single quotes,
    then double quotes, each stripped repeatedly from both ends. The
    whitespace set is Python's full str.strip() set (incl. \\v, \\f and the
    Unicode spaces), so both sides normalize identically on any content."""
    return f"trim(trim(trim({x}, {_PY_STRIP_WS}), chr(39)), '\"')"


def _qcell(x: str) -> str:
    """A string CSV cell: normalized then double-quote-wrapped."""
    return f"'\"' || {_stripq(x)} || '\"'"


def _csv_line(cells: list[str]) -> str:
    """Join cell expressions with the reference's ',\\t' separator
    (base.py:226-233 list_of_list_to_csv)."""
    return " || ',' || chr(9) || ".join(cells)


def _hdr(names: list[str]) -> str:
    """Header line: every header cell is a string, so it is quote-wrapped."""
    return ",\t".join(f'"{n}"' for n in names)


def _render_block_ctes(cfg: PipelineConfig, token_budget: int = 400) -> str:
    """CTEs producing one-row bodies for the three context CSV blocks
    (entities / relationships / sources), byte-identical to
    query_ctx.context_blocks over the same context sets."""
    ent_line = _csv_line([
        "CAST(rnk - 1 AS VARCHAR)",
        _qcell("entity_name"),
        _qcell("entity_type"),
        "'\"UNKNOWN\"'",
        "CAST(degree AS VARCHAR)",
    ])
    rel_line = _csv_line([
        "CAST(rid AS VARCHAR)",
        _qcell("src"),
        _qcell("dst"),
        _qcell("description"),
        "CAST(weight AS VARCHAR)",
        "CAST(edge_rank AS VARCHAR)",
    ])
    src_line = _csv_line([
        "CAST(sid AS VARCHAR)",
        _qcell("content"),
    ])
    ent_hdr = _hdr(["id", "entity", "type", "description", "rank"])
    rel_hdr = _hdr(["id", "source", "target", "description", "weight", "rank"])
    src_hdr = _hdr(["id", "content"])
    return f""",
rel_ranked AS (
  SELECT t.src, t.dst, t.weight, t.description,
         CAST(ds.degree + dd.degree AS BIGINT) AS edge_rank
  FROM touching t
  JOIN deg ds ON ds.entity_name = t.src
  JOIN deg dd ON dd.entity_name = t.dst
),
rel_kept AS (
  SELECT * FROM (
    SELECT src, dst, weight, description, edge_rank,
           sum(length(description)) OVER (
             ORDER BY edge_rank DESC, weight DESC, src ASC, dst ASC
             ROWS UNBOUNDED PRECEDING) AS running_tokens
    FROM rel_ranked
  ) WHERE running_tokens <= {cfg.qctx_token_budget}
),
rel_ids AS (
  SELECT row_number() OVER (ORDER BY edge_rank DESC, weight DESC,
                            src ASC, dst ASC) - 1 AS rid, *
  FROM rel_kept
),
seed_chunks AS (
  SELECT DISTINCT cid AS chunk_id FROM (
    SELECT unnest(string_split(n.source_id, '<SEP>')) AS cid
    FROM nodes n WHERE EXISTS (SELECT 1 FROM seeds s WHERE s.entity_name = n.entity_name)
  ) u WHERE cid LIKE 'chunk-%'
),
edge_cites AS (
  SELECT cid AS chunk_id, count(*) AS relation_counts FROM (
    SELECT unnest(string_split(source_id, '<SEP>')) AS cid FROM touching
  ) u GROUP BY 1
),
chunk_kept AS (
  SELECT * FROM (
    SELECT c.chunk_id, c.chunk_order_index, c.content,
           CAST(coalesce(e.relation_counts, 0) AS BIGINT) AS relation_counts,
           sum(c.tokens) OVER (
             ORDER BY c.chunk_order_index ASC,
                      coalesce(e.relation_counts, 0) DESC, c.chunk_id ASC
             ROWS UNBOUNDED PRECEDING) AS running_tokens
    FROM seed_chunks s JOIN chunks c USING (chunk_id)
    LEFT JOIN edge_cites e ON e.chunk_id = c.chunk_id
  ) WHERE running_tokens <= {token_budget}
),
chunk_ids AS (
  SELECT row_number() OVER (ORDER BY chunk_order_index ASC,
                            relation_counts DESC, chunk_id ASC) - 1 AS sid,
         content
  FROM chunk_kept
),
ent_body AS (
  SELECT coalesce('{ent_hdr}' || chr(10)
           || string_agg({ent_line}, chr(10) ORDER BY rnk),
           '{ent_hdr}') AS body
  FROM seeds
),
rel_body AS (
  SELECT coalesce('{rel_hdr}' || chr(10)
           || string_agg({rel_line}, chr(10) ORDER BY rid),
           '{rel_hdr}') AS body
  FROM rel_ids
),
src_body AS (
  SELECT coalesce('{src_hdr}' || chr(10)
           || string_agg({src_line}, chr(10) ORDER BY sid),
           '{src_hdr}') AS body
  FROM chunk_ids
)"""


def qctx_render_sql(cfg: PipelineConfig = DEFAULT, token_budget: int = 400) -> str:
    """Twin of api.qctx_render: the three rendered context CSV blocks."""
    return (
        cte_prefix(cfg) + "," + _qctx_ctes(cfg)
        + _render_block_ctes(cfg, token_budget) + """
SELECT 'entities' AS block, (SELECT body FROM ent_body) AS body
UNION ALL
SELECT 'relationships' AS block, (SELECT body FROM rel_body) AS body
UNION ALL
SELECT 'sources' AS block, (SELECT body FROM src_body) AS body
"""
    )


def qctx_prompt_sql(
    cfg: PipelineConfig = DEFAULT, token_budget: int = 400,
    response_type: str | None = None,
) -> str:
    """Twin of api.qctx_prompt: the filled local_rag_response_augmented
    system prompt — the reference's final text-LLM deliverable
    (query.py:402-405). The template and section wrapper are shared
    constants (functions/prompt_templates.py mirrors prompt.py); the oracle
    value-checks the entire context derivation feeding them."""
    from .functions import prompt_templates as T
    from .operators.query_ctx import CONTEXT_WRAPPER

    rt = response_type or T.DEFAULT_RESPONSE_TYPE
    tpl = T.LOCAL_RAG_RESPONSE_AUGMENTED.replace("'", "''")
    w1, w2, w3, w4 = (p.replace("'", "''") for p in CONTEXT_WRAPPER)
    ctx = (
        f"'{w1}' || (SELECT body FROM ent_body) || "
        f"'{w2}' || (SELECT body FROM rel_body) || "
        f"'{w3}' || (SELECT body FROM src_body) || '{w4}'"
    )
    return (
        cte_prefix(cfg) + "," + _qctx_ctes(cfg)
        + _render_block_ctes(cfg, token_budget) + f"""
SELECT replace(replace('{tpl}', '{{response_type}}', '{rt.replace("'", "''")}'),
               '{{context_data}}', {ctx}) AS prompt
"""
    )


def qctx_prompt_chain_sql(
    cfg: PipelineConfig = DEFAULT, token_budget: int = 400,
    response_type: str | None = None,
) -> str:
    """Twin of api.qctx_prompt_chain: the full deterministic answer-prompt
    chain (reference query.py:395-470) as (step, prompt) rows — the
    augmented text prompt, one multimodal prompt per scraped ORI_IMG seed
    (caption joined from the media relation, image_information =
    '{caption}, {footnote}' with the empty footnote), and the needs_merge
    flag. The ORI_IMG scrape twin reads the same seed rows the entities CSV
    is rendered from (type cell == ORI_IMG, CSV order == rnk, lowercased,
    first NUM_MM_ENTITIES)."""
    from .functions import prompt_templates as T
    from .operators.query_ctx import CONTEXT_WRAPPER

    rt = (response_type or T.DEFAULT_RESPONSE_TYPE).replace("'", "''")
    tpl = T.LOCAL_RAG_RESPONSE_AUGMENTED.replace("'", "''")
    tpl_mm = T.LOCAL_RAG_RESPONSE_MULTIMODAL.replace("'", "''")
    w1, w2, w3, w4 = (p.replace("'", "''") for p in CONTEXT_WRAPPER)
    ctx = (
        f"'{w1}' || (SELECT body FROM ent_body) || "
        f"'{w2}' || (SELECT body FROM rel_body) || "
        f"'{w3}' || (SELECT body FROM src_body) || '{w4}'"
    )
    return (
        cte_prefix(cfg) + "," + _qctx_ctes(cfg)
        + _render_block_ctes(cfg, token_budget) + f""",
mm AS (
  SELECT lower(entity_name) AS name, rnk FROM seeds
  WHERE entity_type = 'ORI_IMG' ORDER BY rnk LIMIT {T.NUM_MM_ENTITIES}
),
mmjoin AS (
  SELECT m.name, m.rnk, s.text AS caption
  FROM mm m JOIN spans s ON s.kind = 'image' AND lower(s.media_ref) = m.name
)
SELECT 'augmented' AS step,
       replace(replace('{tpl}', '{{response_type}}', '{rt}'),
               '{{context_data}}', {ctx}) AS prompt
UNION ALL
SELECT 'multimodal:' || name AS step,
       replace(replace(replace('{tpl_mm}',
               '{{response_type}}', '{rt}'),
               '{{image_information}}', caption || ', '),
               '{{context_data}}', {ctx}) AS prompt
FROM mmjoin
UNION ALL
SELECT 'needs_merge' AS step,
       CASE WHEN (SELECT count(*) FROM mmjoin) > 0
            THEN 'true' ELSE 'false' END AS prompt
"""
    )


def entity_vdb_topk_sql(
    cfg: PipelineConfig = DEFAULT, k: int = 5, threshold: float = 0.2,
    query: str | None = None,
) -> str:
    """T1 twin: trigram-embedded entity VDB top-k with better_than_threshold
    (entity_vdb.entity_vdb_topk). Query vector inlined from the same Python
    encoder both engines mirror."""
    from .operators.fusion import trigram_vector

    query = query or cfg.qctx_query
    dims = cfg.trigram_dims
    qv = trigram_vector(query, dims)
    nq2 = int((qv * qv).sum())
    t2 = int(round(threshold * threshold * 10_000))
    qlit = "[" + ", ".join(str(int(x)) for x in qv) + "]"
    return cte_prefix(cfg) + f""",
ev AS (SELECT entity_name, entity_name || description AS content FROM nodes),
evg AS (
  SELECT entity_name,
         unnest([substr(content, i + 1, 3) for i in range(greatest(length(content) - 2, 1))]) AS t
  FROM ev
),
evv AS (
  SELECT entity_name, ('0x' || substr(md5(t), 1, 4))::BIGINT % {dims} AS bucket,
         CAST(sum(CASE WHEN ('0x' || substr(md5(t), 5, 1))::BIGINT % 2 = 0
                       THEN 1 ELSE -1 END) AS BIGINT) AS v
  FROM evg GROUP BY 1, 2
),
score AS (
  SELECT entity_name,
         CAST(sum(v * ({qlit})[bucket + 1]) AS BIGINT) AS dot,
         CAST(sum(v * v) AS BIGINT) AS n2
  FROM evv GROUP BY 1
),
gated AS (
  SELECT 'ent-' || md5(entity_name) AS id, entity_name, dot, n2,
         CAST(CASE WHEN dot >= 0 THEN 1 ELSE -1 END
              * ((dot * dot) // greatest((n2 * {nq2}) // 1000000, 1)) AS BIGINT) AS rank_key
  FROM score
  WHERE dot > 0 AND dot * dot * 10000 >= {t2 * nq2} * n2
)
SELECT id, entity_name, rank_key, rnk FROM (
  SELECT *, row_number() OVER (ORDER BY rank_key DESC, entity_name ASC) AS rnk
  FROM gated
) t WHERE rnk <= {k}
"""


def qctx_seeds_vdb_sql(
    cfg: PipelineConfig = DEFAULT, k: int = 5, threshold: float = 0.2,
) -> str:
    """Vector-seeded qctx twin: entity_vdb top-k joined to node attrs +
    degrees (query_ctx.seed_entities_vdb)."""
    base = entity_vdb_topk_sql(cfg, k=k, threshold=threshold)
    # strip the final SELECT, keep the CTE chain + gated, re-select with joins
    head, _, _ = base.rpartition("SELECT id, entity_name, rank_key, rnk FROM (")
    return head + f"""
, vdb_hits AS (
  SELECT id, entity_name, rank_key, rnk FROM (
    SELECT *, row_number() OVER (ORDER BY rank_key DESC, entity_name ASC) AS rnk
    FROM gated
  ) t WHERE rnk <= {k}
),
deg2 AS (
  SELECT entity_name, count(*) AS degree FROM (
    SELECT src AS entity_name FROM edges
    UNION ALL SELECT dst AS entity_name FROM edges
  ) u GROUP BY 1
)
SELECT h.entity_name, n.entity_type,
       CAST(coalesce(d.degree, 0) AS BIGINT) AS degree,
       CAST(h.rnk AS BIGINT) AS rnk
FROM vdb_hits h
JOIN nodes n USING (entity_name)
LEFT JOIN deg2 d USING (entity_name)
"""


def mm_decode_select() -> str:
    return """
SELECT media_ref,
       CAST(length(media_ref || ':' || context) AS BIGINT) AS byte_len,
       CAST(16 + length(media_ref || ':' || context) % 64 AS BIGINT) AS width,
       CAST(16 + (length(media_ref || ':' || context) * 7) % 64 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS n_channels
FROM media
"""


def merge_map_select() -> str:
    return "SELECT doc_id, media_ref, old_name, new_name FROM merge_map"


def clusters_select() -> str:
    """M6 cluster components twin (value check for kg_clusters)."""
    return (
        "SELECT doc_id, media_ref, nm AS entity_name, label,"
        " rep AS cluster_rep FROM comp_lbl"
    )


# the served graph's merged columns, under the names of the build's
# fused_nodes/fused_edges projections
def fused_nodes_select() -> str:
    return "SELECT entity_name, entity_type, description, source_id FROM nodes"


def fused_edges_select() -> str:
    return 'SELECT src, dst, weight, description, source_id, "order" FROM edges'


def q(select: str, cfg: PipelineConfig = DEFAULT) -> str:
    """Full oracle query: shared CTE prefix + a final SELECT."""
    return cte_prefix(cfg) + select
