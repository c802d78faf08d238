"""DuckDB oracle SQL for every SQL-expressible query in kgkit.queries.

The driver runs these against pre-registered views (region nation customer
supplier part orders lineitem events documents embeddings) at sf=0.01 and
compares row count + schema + order-insensitive value hash with the Spark
result.  Column names/types must match the Spark DataFrames exactly.

The mention CTE mirrors the deterministic gazetteer pipeline (greedy
longest-match, kgkit/ner_core/tagger.py): with bigram first-words
{hash,table,sort} disjoint from second-words {join,scan,merge} and from the
single-word aliases, greedy left-to-right matching reduces to the purely
relational rules encoded here — that is what makes the full NER UDF
pipeline checkable in ANSI SQL.
"""

from kgkit.sources.alias_dict import alias_values_sql, edges_values_sql


def _chunks_sql(src: str) -> str:
    """Strict-IOB2 chunk extraction over a (doc_id, pos, tag) relation —
    the SQL twin of the strict chunk runs in
    kgkit.metrics.ner_metrics.entity_class_counts: sessionize on broken
    continuations, keep runs that start with B-."""
    return f"""
        SELECT doc_id, cls,
               min(pos) AS start_pos, max(pos) AS end_pos
        FROM (
            SELECT doc_id, pos, kind, cls,
                   sum(CASE WHEN kind = 'I' AND pcls = cls
                                 AND pkind IN ('B', 'I')
                            THEN 0 ELSE 1 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS run
            FROM (
                -- class = text after the LAST hyphen, the twin of the
                -- engine's substring_index(tag, '-', -1) (and the
                -- reference's split('-')[-1]): substr(tag, 3) would
                -- diverge for classes containing '-' (e.g. B-MISC-SUB)
                SELECT doc_id, pos,
                       CASE WHEN tag = 'O' THEN 'O'
                            ELSE substr(tag, 1, 1) END AS kind,
                       CASE WHEN tag = 'O' THEN 'O'
                            ELSE regexp_extract(tag, '([^-]+)$', 1) END AS cls,
                       lag(CASE WHEN tag = 'O' THEN 'O'
                                ELSE substr(tag, 1, 1) END)
                           OVER (PARTITION BY doc_id ORDER BY pos) AS pkind,
                       lag(CASE WHEN tag = 'O' THEN 'O'
                                ELSE regexp_extract(tag, '([^-]+)$', 1) END)
                           OVER (PARTITION BY doc_id ORDER BY pos) AS pcls
                FROM {src}
            )
        )
        WHERE kind != 'O'
        GROUP BY doc_id, run, cls
        HAVING arg_min(kind, pos) = 'B'
    """

# ---------------------------------------------------------------------------
# shared CTE bodies
# ---------------------------------------------------------------------------

# words of each document with char offsets (whitespace tokenization == the
# pretokenizer on this corpus: texts are single-spaced and
# punctuation-free — driver docs are [a-z ], planted pages obey the
# kgkit/sources/planted.py invariant).  ner_docs = driver corpus + the
# planted OOV/CJK/emoji pages, the same union kgkit.queries._pages
# feeds the Spark side: non-ASCII words go through [UNK] -> restore in
# the pipeline but surface as themselves at word level, so split+running
# -length stays the exact mirror.
from kgkit.sources.planted import planted_values_sql as _planted_values_sql


def words_cte(extra_docs: str = "") -> str:
    """The ner_docs/words/pw chain; ``extra_docs`` appends additional
    'UNION ALL SELECT ...' document sources to ner_docs (used by the
    kg_relations oracle for the relation-planted verb pages — the
    Spark query unions the same rows from the same list)."""
    return f"""
ner_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT * FROM {_planted_values_sql()} pn(doc_id, text){extra_docs}
),
words AS (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS word,
           CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos
    FROM ner_docs
),
pw AS (
    SELECT doc_id, word, pos,
           CAST(COALESCE(sum(len(word) + 1) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS char_start,
           lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS next_word,
           lag(word)  OVER (PARTITION BY doc_id ORDER BY pos) AS prev_word
    FROM words
)
"""


WORDS_CTE = words_cte()

# gazetteer marks: bigram starts / continuations / single-word matches
MARKED_CTE = """
marked AS (
    SELECT *,
        CASE WHEN (word = 'hash'  AND next_word = 'join')
              OR  (word = 'table' AND next_word = 'scan')
              OR  (word = 'sort'  AND next_word = 'merge')
             THEN 'OP' END AS bi_tag,
        CASE WHEN (prev_word = 'hash'  AND word = 'join')
              OR  (prev_word = 'table' AND word = 'scan')
              OR  (prev_word = 'sort'  AND word = 'merge')
             THEN TRUE ELSE FALSE END AS bi_cont,
        CASE word WHEN 'join' THEN 'OP' WHEN 'merge' THEN 'OP'
                  WHEN 'spark' THEN 'TECH' WHEN 'stream' THEN 'TECH'
                  WHEN 'vector' THEN 'TECH' WHEN 'customer' THEN 'DIM'
        END AS single_tag
    FROM pw
)
"""

# the deterministic (true, pred) eval token stream of
# kgkit.queries._ner_eval_stream: true = gazetteer word tags, pred =
# true with the (pos*31 + doc_id) % 7 arithmetic flip to 'O'
EVAL_ST_CTE = """
stream AS (
    SELECT doc_id, pos - 1 AS pos,
           CASE WHEN bi_tag IS NOT NULL THEN 'B-' || bi_tag
                WHEN bi_cont THEN 'I-OP'
                WHEN single_tag IS NOT NULL THEN 'B-' || single_tag
                ELSE 'O' END AS true_tag
    FROM marked
),
st AS (
    SELECT doc_id, pos, true_tag,
           CASE WHEN true_tag != 'O' AND (pos * 31 + doc_id) % 7 = 0
                THEN 'O' ELSE true_tag END AS pred_tag
    FROM stream
)
"""

def mentions_cte(extra_docs: str = "") -> str:
    return (
        words_cte(extra_docs) + "," + MARKED_CTE + _MENTIONS_TAIL
    )


_MENTIONS_TAIL = """,
raw_mentions AS (
    SELECT doc_id, char_start,
           char_start + len(word) + 1 + len(next_word) AS char_end,
           word || ' ' || next_word AS surface,
           bi_tag AS tag
    FROM marked WHERE bi_tag IS NOT NULL
    UNION ALL
    SELECT doc_id, char_start,
           char_start + len(word) AS char_end,
           word AS surface,
           single_tag AS tag
    FROM marked WHERE single_tag IS NOT NULL AND bi_tag IS NULL AND NOT bi_cont
),
mentions AS (
    SELECT 'doc://' || doc_id AS url,
           doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY char_start) - 1
                AS BIGINT) AS mention_id,
           CAST(char_start AS BIGINT) AS char_start,
           CAST(char_end AS BIGINT) AS char_end,
           surface, tag
    FROM raw_mentions
)
"""

MENTIONS_CTE = mentions_cte()

# ---------------------------------------------------------------------------
# TRAINED head (kgkit/ner_core/trained.py): the forward pass itself,
# re-computed relationally — embedding lookup (md5-hashed sparse sign
# features), matmul (weights join + integer sum), argmax (window) —
# then BIO autocorrect and entity chunking.  Exact because the trained
# weights live on the 1/1024 grid: BIGINT z_num here equals the float32
# logits *1024 bit-for-bit (see the trained.py module docstring).
# ---------------------------------------------------------------------------


def _trained_tags_cte() -> str:
    """CTE chain (tkeys .. ttags) computing the trained model's word
    tags; requires WORDS_CTE's ``pw`` in scope.  Weights/bias VALUES
    are generated from the SAME packaged checkpoint the Spark workers
    load, and the md5 byte-slicing mirrors trained.feature_dims.

    Attention + two-layer arithmetic in BIGINT (trained.py module
    docstring): salt-hashed q/k/v vectors per word, pair scores over
    the DOCUMENT grid, base-2 softmax weights ``1 << clip(s, 0, SMAX)``,
    per-position denominator ``den``; the forward runs multiplied
    through by ``den`` — context contributions ``sgn·den``, the
    attention channel as its integer numerator, biases ``b·den`` — so
    layer-1 pre-activations (units 1/Q), GREATEST relu, and logits
    (units 1/Q^2) stay integers and the argmax is unchanged (positive
    per-position scale).  Bit-equal to the int64 numpy forward."""
    import numpy as np

    from kgkit.ner_core.trained import (
        EMB_DIM, N_HASH, N_HIDDEN, Q, SMAX, default_trained_tagger,
    )

    m = default_trained_tagger()
    W1q = np.rint(m.W1 * Q).astype(int)
    b1q = np.rint(m.b1 * Q).astype(int)
    W2q = np.rint(m.W2 * Q).astype(int)
    b2q = np.rint(m.b2 * Q).astype(int)
    w1rows = ", ".join(
        f"({i}, {h}, {int(W1q[i, h])})"
        for i in range(W1q.shape[0])
        for h in range(W1q.shape[1])
        if W1q[i, h] != 0
    )
    b1rows = ", ".join(
        f"({h}, {int(b1q[h])})" for h in range(N_HIDDEN)
    )
    w2rows = ", ".join(
        f"({h}, {c}, {int(W2q[h, c])})"
        for h in range(W2q.shape[0])
        for c in range(W2q.shape[1])
        if W2q[h, c] != 0
    )
    brows = ", ".join(
        f"({c}, '{cls}', {int(b2q[c])})"
        for c, cls in enumerate(m.annotation_classes)
    )
    hrows = ", ".join(f"({i})" for i in range(N_HASH))
    # a word outside the printable-ASCII WordPiece vocabulary is the
    # [UNK] token to the model -> key '[unk]' (trained.normalize_words);
    # '' at document boundaries == the slice-boundary '' of forward()
    unk = (
        "CASE WHEN {c} IS NULL THEN '' "
        "WHEN regexp_matches({c}, '^[!-~]+$') THEN lower({c}) "
        "ELSE '[unk]' END"
    )
    return f"""
tkeys AS (
    SELECT doc_id, pos,
           {unk.format(c='word')} AS wk,
           {unk.format(c='prev_word')} AS pk,
           {unk.format(c='next_word')} AS nk
    FROM pw
),
tfeats AS (
    SELECT doc_id, pos, 0 AS ch, wk || '|' || nk AS key FROM tkeys
    UNION ALL
    SELECT doc_id, pos, 1 AS ch, pk || '|' || wk AS key FROM tkeys
    UNION ALL
    SELECT doc_id, pos, 2 AS ch, wk AS key FROM tkeys
    UNION ALL
    -- trigram conjunction channel (trained.py N_CH=4)
    SELECT doc_id, pos, 3 AS ch, pk || '|' || wk || '|' || nk AS key FROM tkeys
),
tcontrib AS (
    SELECT doc_id, pos,
           ch * {EMB_DIM}
             + CAST(('0x' || substr(md5(key), 2 * hh.i + 1, 2))::BIGINT
                    % {EMB_DIM} AS INT) AS idx,
           CASE WHEN substr(md5(key), 9 + hh.i, 1) IN {_ODD}
                THEN 1 ELSE -1 END AS sgn
    FROM tfeats CROSS JOIN (VALUES {hrows}) hh(i)
),
tqvs AS (
    -- salt-hashed q/k/v embeddings per word (trained._qkv twin):
    -- summed signs per dim so duplicate hash dims accumulate
    SELECT doc_id, pos, role, dim, SUM(sgn) AS val
    FROM (
        SELECT doc_id, pos, rr.role,
               CAST(('0x' || substr(md5(rr.role || '|' || wk),
                                    2 * hh.i + 1, 2))::BIGINT
                    % {EMB_DIM} AS INT) AS dim,
               CASE WHEN substr(md5(rr.role || '|' || wk), 9 + hh.i, 1)
                    IN {_ODD} THEN 1 ELSE -1 END AS sgn
        FROM tkeys
        CROSS JOIN (VALUES ('q'), ('k'), ('v')) rr(role)
        CROSS JOIN (VALUES {hrows}) hh(i)
    ) GROUP BY doc_id, pos, role, dim
),
tsc AS (
    -- hashed query·key dots over the document pair grid
    SELECT q.doc_id, q.pos AS pi, k.pos AS pj, SUM(q.val * k.val) AS s
    FROM tqvs q
    JOIN tqvs k ON k.doc_id = q.doc_id AND k.dim = q.dim
    WHERE q.role = 'q' AND k.role = 'k'
    GROUP BY q.doc_id, q.pos, k.pos
),
tw AS (
    -- base-2 softmax weights 2^clip(s, 0, SMAX) over ALL word pairs
    -- (pairs with no shared hash dim score 0 -> weight 1)
    SELECT a.doc_id, a.pos AS pi, b.pos AS pj,
           (CAST(1 AS BIGINT)
            << CAST(LEAST(GREATEST(COALESCE(s.s, 0), 0), {SMAX}) AS INT))
           AS nw
    FROM pw a
    JOIN pw b ON b.doc_id = a.doc_id
    LEFT JOIN tsc s
      ON s.doc_id = a.doc_id AND s.pi = a.pos AND s.pj = b.pos
),
tden AS (SELECT doc_id, pi AS pos, SUM(nw) AS den FROM tw GROUP BY doc_id, pi),
tanum AS (
    -- attention-mixed value-channel numerator per (position, dim)
    SELECT w.doc_id, w.pi AS pos, v.dim, SUM(w.nw * v.val) AS num
    FROM tw w
    JOIN tqvs v ON v.doc_id = w.doc_id AND v.pos = w.pj AND v.role = 'v'
    GROUP BY w.doc_id, w.pi, v.dim
),
tallc AS (
    -- multiplied-through features: context channels scaled by den,
    -- the attention channel as its integer numerator
    SELECT c.doc_id, c.pos, c.idx, CAST(c.sgn AS BIGINT) * d.den AS val
    FROM tcontrib c JOIN tden d ON d.doc_id = c.doc_id AND d.pos = c.pos
    UNION ALL
    SELECT doc_id, pos, {4 * EMB_DIM} + dim AS idx, num AS val FROM tanum
),
th1 AS (
    SELECT c.doc_id, c.pos, w.hdim, SUM(c.val * w.wq) AS s
    FROM tallc c
    JOIN (SELECT * FROM (VALUES {w1rows}) t(idx, hdim, wq)) w
      ON w.idx = c.idx
    GROUP BY c.doc_id, c.pos, w.hdim
),
trelu AS (
    SELECT p.doc_id, p.pos, p.den, b.hdim,
           GREATEST(b.b1q * p.den + COALESCE(h.s, 0), 0) AS r
    FROM tden p
    CROSS JOIN (SELECT * FROM (VALUES {b1rows}) t(hdim, b1q)) b
    LEFT JOIN th1 h
      ON h.doc_id = p.doc_id AND h.pos = p.pos AND h.hdim = b.hdim
),
tz2 AS (
    SELECT r.doc_id, r.pos, w.cls_id, SUM(r.r * w.wq) AS s2
    FROM trelu r
    JOIN (SELECT * FROM (VALUES {w2rows}) t(hdim, cls_id, wq)) w
      ON w.hdim = r.hdim
    GROUP BY r.doc_id, r.pos, w.cls_id
),
tz AS (
    SELECT p.doc_id, p.pos, p.den, b.cls_id, b.cls,
           b.bias_q * {Q} * p.den + COALESCE(s.s2, 0) AS z_num
    FROM tden p
    CROSS JOIN (SELECT * FROM (VALUES {brows}) t(cls_id, cls, bias_q)) b
    LEFT JOIN tz2 s
      ON s.doc_id = p.doc_id AND s.pos = p.pos AND s.cls_id = b.cls_id
),
ttags AS (
    SELECT doc_id, pos, cls AS tag FROM (
        SELECT doc_id, pos, cls,
               row_number() OVER (PARTITION BY doc_id, pos
                                  ORDER BY z_num DESC, cls_id ASC) AS rnk
        FROM tz
    ) WHERE rnk = 1
)"""


# W5 BIO autocorrect as a lag rule: I-X becomes B-X unless the previous
# ORIGINAL tag is entity-kind of the same class — equivalent to the
# reference's sequential already-repaired-previous rule because repair
# preserves class and maps kinds within {B, I} (schemes.fix_bio_tag)
TRAINED_FIX_CTE = """
tfix AS (
    SELECT doc_id, pos,
           CASE WHEN tag LIKE 'I-%'
                 AND (ptag IS NULL OR ptag = 'O'
                      OR regexp_extract(ptag, '([^-]+)$', 1)
                         != regexp_extract(tag, '([^-]+)$', 1))
                THEN 'B-' || regexp_extract(tag, '([^-]+)$', 1)
                ELSE tag END AS tag
    FROM (
        SELECT doc_id, pos, tag,
               lag(tag) OVER (PARTITION BY doc_id ORDER BY pos) AS ptag
        FROM ttags
    )
)"""


def _trained_mentions_sql() -> str:
    """Full kg_mentions_nn oracle: trained tags -> autocorrect ->
    IOB2 chunks -> entity records re-sliced from the document text
    (surface byte-identity by construction, like spans._entity_record)."""
    return f"""
        WITH {WORDS_CTE}, {_trained_tags_cte()}, {TRAINED_FIX_CTE},
        tchunks AS ({_chunks_sql('tfix')}),
        nn_mentions AS (
            SELECT 'doc://' || m.doc_id AS url,
                   CAST(row_number() OVER (PARTITION BY m.doc_id
                                           ORDER BY s.char_start) - 1
                        AS BIGINT) AS mention_id,
                   CAST(s.char_start AS BIGINT) AS char_start,
                   CAST(e.char_start + len(e.word) AS BIGINT) AS char_end,
                   substr(d.text, CAST(s.char_start + 1 AS INT),
                          CAST(e.char_start + len(e.word) - s.char_start
                               AS INT)) AS surface,
                   m.cls AS tag
            FROM tchunks m
            JOIN pw s ON s.doc_id = m.doc_id AND s.pos = m.start_pos
            JOIN pw e ON e.doc_id = m.doc_id AND e.pos = m.end_pos
            JOIN ner_docs d ON d.doc_id = m.doc_id
        )
        SELECT url, mention_id, char_start, char_end, surface, tag
        FROM nn_mentions
    """


def _trained_proba_sql() -> str:
    """predict_proba_nn oracle: softmax over the trained logits
    (z = z_num / (den·1048576) exactly — one IEEE division of exact
    integers, identical to the numpy side; numerically-stable exp like
    NumpyTagger.decode_proba), rounded to 6 on both engines."""
    return f"""
        WITH {WORDS_CTE}, {_trained_tags_cte()},
        zz AS (
            SELECT 'doc://' || doc_id AS url,
                   CAST(pos - 1 AS BIGINT) AS pos, cls,
                   z_num / (den * 1048576.0) AS z
            FROM tz
        ),
        mm AS (SELECT *, max(z) OVER (PARTITION BY url, pos) AS zmax FROM zz),
        ee AS (SELECT url, pos, cls, exp(z - zmax) AS ez FROM mm),
        ff AS (SELECT *, sum(ez) OVER (PARTITION BY url, pos) AS den FROM ee)
        SELECT url, pos, cls, round(ez / den, 6) AS proba FROM ff
    """


# linking: broadcast-dictionary join + cosine rerank (double precision)
def linked_cte(extra_docs: str = "") -> str:
    return mentions_cte(extra_docs) + _LINKED_TAIL


_LINKED_TAIL = f""",
alias_dict AS (SELECT * FROM {alias_values_sql()}),
cands AS (
    SELECT m.*, a.entity_id, a.entity_num, a.prior
    FROM mentions m JOIN alias_dict a ON lower(m.surface) = a.alias
),
scored AS (
    SELECT c.*,
           CASE WHEN pe.embedding IS NOT NULL AND ee.embedding IS NOT NULL
                THEN round(list_dot_product(CAST(pe.embedding AS DOUBLE[]),
                                            CAST(ee.embedding AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(pe.embedding AS DOUBLE[]),
                                              CAST(pe.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(ee.embedding AS DOUBLE[]),
                                              CAST(ee.embedding AS DOUBLE[])))), 6)
                ELSE 0.0 END AS link_score
    FROM cands c
    LEFT JOIN embeddings pe ON pe.vec_id = c.doc_id
    LEFT JOIN embeddings ee ON ee.vec_id = c.entity_num
),
linked AS (
    SELECT * FROM (
        SELECT s.*, row_number() OVER (
            PARTITION BY url, mention_id
            ORDER BY link_score DESC, prior DESC, entity_id ASC) AS rnk
        FROM scored s
    ) WHERE rnk = 1
)
"""

LINKED_CTE = linked_cte()

# canonicalization: transitive closure over synonym edges, min numeric id
CANON_CTE = f"""
edges AS (SELECT * FROM {edges_values_sql()}),
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(a, b) AS (
    SELECT src, dst FROM und
    UNION
    SELECT r.a, u.dst FROM reach r JOIN und u ON r.b = u.src
),
members AS (
    SELECT a, b FROM reach
    UNION
    SELECT DISTINCT a, a FROM reach
),
comp AS (
    SELECT a AS entity_id,
           'Q' || min(CAST(substr(b, 2) AS INT)) AS canonical_id
    FROM members GROUP BY a
),
canon AS (
    SELECT e.entity_id, COALESCE(c.canonical_id, e.entity_id) AS canonical_id
    FROM (SELECT DISTINCT entity_id FROM {alias_values_sql()}) e
    LEFT JOIN comp c ON c.entity_id = e.entity_id
)
"""

TRIPLES_CTE = LINKED_CTE + "," + CANON_CTE + """,
lm AS (
    SELECT l.*, COALESCE(c.canonical_id, l.entity_id) AS entity
    FROM linked l LEFT JOIN canon c ON c.entity_id = l.entity_id
),
page_triples AS (
    SELECT url AS subj, 'mentions' AS pred, entity AS obj, url,
           min(char_start) AS char_start, min(char_end) AS char_end
    FROM lm GROUP BY url, entity
),
cooccur AS (
    SELECT entity AS subj, 'cooccurs_with' AS pred,
           lead(entity) OVER w AS obj, url,
           char_start, lead(char_start) OVER w AS char_end
    FROM lm
    WINDOW w AS (PARTITION BY url ORDER BY char_start, mention_id)
    QUALIFY lead(entity) OVER w IS NOT NULL
),
triples AS (
    SELECT subj, pred, obj, url, char_start, char_end FROM page_triples
    UNION ALL
    SELECT subj, pred, obj, url, char_start, char_end FROM cooccur
)
"""


def _relations_sql() -> str:
    """Stage 4b twin (kgkit/operators/relations.py::extract_relations):
    adjacent canonical mention pairs -> gap-substring predicate surface
    (1..MAX_PRED_WORDS lowercase words) -> verb-pattern rel_type ->
    NPMI from exact BIGINT marginals.  The pair window is the cooccur
    window; gap text comes from ner_docs WIDENED with the
    relation-planted verb pages (planted.relation_values_sql — the
    identical union the Spark query scans; the typing rule's closed
    word classes have no driver-corpus members).  substr is 1-indexed
    on both engines, the integer-count products go double-first on both
    (exact < 2^53), and round(6) absorbs ln()'s last-ulp libm
    differences — the SAME grid discipline as _COS_SQL.  The typing
    CASE mirrors relations.REL_TYPE verbatim.  Change operator and
    oracle together or neither."""
    from kgkit.operators.relations import (
        ACTION_PATTERN, COPULA_WORDS, DETERMINERS, MAX_GAP_CHARS,
        MAX_PRED_WORDS, POSSESSION_WORDS,
    )
    from kgkit.sources.planted import relation_values_sql

    extra = (
        "\n    UNION ALL\n"
        f"    SELECT * FROM {relation_values_sql()} rp(doc_id, text)"
    )
    in_list = lambda ws: ", ".join(f"'{w}'" for w in ws)  # noqa: E731
    rel_type = f"""CASE
        WHEN split_part(pred, ' ', 1) IN ({in_list(COPULA_WORDS)})
        THEN CASE WHEN split_part(pred, ' ', 2) IN ({in_list(DETERMINERS)})
                  THEN 'isa' ELSE 'attr' END
        WHEN split_part(pred, ' ', 1) IN ({in_list(POSSESSION_WORDS)})
        THEN 'has_part'
        WHEN regexp_full_match(split_part(pred, ' ', 1),
                               '{ACTION_PATTERN.strip('^$')}')
        THEN 'action'
        ELSE 'assoc' END"""
    return linked_cte(extra) + "," + CANON_CTE + f""",
lm AS (
    SELECT l.*, COALESCE(c.canonical_id, l.entity_id) AS entity
    FROM linked l LEFT JOIN canon c ON c.entity_id = l.entity_id
),
rpairs AS (
    SELECT doc_id, entity AS subj,
           lead(entity) OVER w AS obj,
           char_end,
           lead(char_start) OVER w AS next_start
    FROM lm
    WINDOW w AS (PARTITION BY url ORDER BY char_start, mention_id)
    QUALIFY obj IS NOT NULL
        AND next_start - char_end BETWEEN 2 AND {MAX_GAP_CHARS}
),
rstream AS (
    SELECT subj, obj,
           trim(substr(d.text, CAST(p.char_end + 1 AS INT),
                       CAST(p.next_start - p.char_end AS INT))) AS pred
    FROM rpairs p JOIN ner_docs d ON d.doc_id = p.doc_id
),
rel AS (
    SELECT subj, pred, obj, CAST(count(*) AS BIGINT) AS n
    FROM rstream
    WHERE regexp_full_match(pred, '[a-z]+( [a-z]+){{0,{MAX_PRED_WORDS - 1}}}')
    GROUP BY subj, pred, obj
),
marg AS (
    SELECT subj, pred, obj, n,
           CAST(sum(n) OVER (PARTITION BY subj, obj) AS BIGINT) AS pair_n,
           CAST(sum(n) OVER (PARTITION BY subj) AS BIGINT) AS subj_n,
           CAST(sum(n) OVER (PARTITION BY obj) AS BIGINT) AS obj_n,
           CAST(sum(n) OVER () AS BIGINT) AS total_n
    FROM rel
)
SELECT subj, pred, obj,
       {rel_type} AS rel_type,
       n, pair_n,
       CASE WHEN pair_n = total_n THEN 1.0
            ELSE round(
                ln((CAST(pair_n AS DOUBLE) * CAST(total_n AS DOUBLE))
                   / (CAST(subj_n AS DOUBLE) * CAST(obj_n AS DOUBLE)))
                / ln(CAST(total_n AS DOUBLE) / CAST(pair_n AS DOUBLE)), 6)
       END AS npmi
FROM marg
"""

# ---------------------------------------------------------------------------
# oracle statements, keyed like kgkit.queries.QUERIES
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# dedup / similarity fragments
# ---------------------------------------------------------------------------

_ODD = "('1','3','5','7','9','b','d','f')"


# ---------------------------------------------------------------------------
# crawl-hygiene fragments (url canonicalization, robots, messy fixture)
# ---------------------------------------------------------------------------

from kgkit.operators.urls import TRACKING_PARAMS as _TRACKING_PARAMS

_TRACK_SQL = "|".join(_TRACKING_PARAMS)


def _robots_values_sql() -> str:
    from kgkit.operators.urls import robots_rules_values_sql

    return robots_rules_values_sql()


def _messy_url_expr() -> str:
    """kgkit.operators.urls.with_messy_urls' arithmetic over doc_id."""
    rid = "CAST(doc_id // 2 AS VARCHAR)"
    return f"""CASE
        WHEN doc_id % 20 = 1 THEN 'notaurl'
        WHEN doc_id % 4 = 0 THEN 'http://site.example.com/r/' || {rid}
        WHEN doc_id % 4 = 1 THEN 'HTTP://Site.Example.COM:80/r/' || {rid}
             || '?utm_source=feed'
        WHEN doc_id % 4 = 2 THEN 'http://site.example.com/r/' || {rid}
             || '?b=2&a=1'
        ELSE 'http://site.example.com/r/' || {rid} || '?a=1&b=2&fbclid=x9'
    END"""


def _canonical_url_select(src: str, url_col: str = "url") -> str:
    """SELECT {src}.* + canonical_url — an independent DuckDB
    re-implementation of kgkit.operators.urls.canonical_url_col
    (lowercase scheme/host, userinfo + default port stripped, fragment
    dropped, tracking params removed, remaining params sorted, empty
    path -> '/', NULL for non-http(s)/invalid-port inputs)."""
    return rf"""
    SELECT * EXCLUDE (u2, scheme, chost, cport, rawpath, rawq, dport, kq),
           CASE WHEN scheme IN ('http', 'https') AND chost != ''
                 AND (cport = '' OR TRY_CAST(cport AS BIGINT) <= 65535)
                THEN scheme || '://' ||
                     -- numeric compare/emit: ':080' is the default
                     -- port and ':08080' canonicalizes to ':8080',
                     -- matching urlsplit().port in the python spec
                     (CASE WHEN cport = ''
                                OR TRY_CAST(cport AS BIGINT)
                                   = CAST(dport AS BIGINT)
                           THEN chost
                           ELSE chost || ':' ||
                                CAST(TRY_CAST(cport AS BIGINT) AS VARCHAR)
                      END) ||
                     (CASE WHEN rawpath = '' THEN '/' ELSE rawpath END) ||
                     (CASE WHEN kq = '' THEN '' ELSE '?' || kq END)
           END AS canonical_url
    FROM (
        SELECT *,
               CASE WHEN scheme = 'http' THEN '80' ELSE '443' END AS dport,
               -- list_sort([]) is NULL in DuckDB; an empty kept-param
               -- list must concatenate as '', not poison the canon
               COALESCE(array_to_string(list_sort(list_filter(
                   string_split(rawq, '&'),
                   p -> p != '' AND NOT regexp_matches(lower(p),
                        '^({_TRACK_SQL})(=|$)'))), '&'), '') AS kq
        FROM (
            SELECT *,
                   lower(regexp_extract(u2,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                   lower(regexp_extract(u2,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
                       1)) AS chost,
                   regexp_extract(u2,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/@:?#]*:(\d+)',
                       1) AS cport,
                   regexp_extract(u2,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)',
                       1) AS rawpath,
                   regexp_extract(u2, '^[^#?]*\?([^#]*)', 1) AS rawq
            FROM (SELECT *, trim({url_col}) AS u2 FROM {src})
        )
    )
    """


def _winnow_pairs_sql(k: int = 16, window: int = 8, min_shared: int = 2,
                      max_bucket: int = 1000) -> str:
    """Full replay of kgkit.operators.dedup winnow_fingerprints +
    substring_dup_pairs: k-gram md5-prefix hashes, window struct-min
    selection (struct comparison is lexicographic by field order on
    both engines, fp first), per-doc distinct, fingerprint bucket cap,
    byte verification at the selected positions."""
    t = k + window - 1
    return f"""
    WITH {PLANTED_DOCS_CTE},
    wd AS (SELECT doc_id, text FROM docs2 WHERE length(text) >= {t}),
    hs AS (
        SELECT doc_id,
               list_transform(range(0, length(text) - {k} + 1),
                   i -> {{'fp': ('0x' || substr(md5(substr(text,
                                 CAST(i + 1 AS INT), {k})), 1, 7))::BIGINT,
                          'pos': i}}) AS h
        FROM wd
    ),
    wins AS (
        SELECT doc_id,
               unnest(list_transform(range(0, len(h) - {window} + 1),
                   j -> list_aggregate(h[j+1:j+{window}], 'min'))) AS w
        FROM hs
    ),
    fps AS (SELECT DISTINCT doc_id, w.fp AS fp, w.pos AS pos FROM wins),
    keptfp AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {max_bucket}),
    capped AS (SELECT fps.* FROM fps JOIN keptfp USING (fp)),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS fp,
               a.pos AS pos_a, b.pos AS pos_b
        FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    ver AS (
        SELECT c.doc_a, c.doc_b, c.fp
        FROM cand c
        JOIN docs2 ta ON ta.doc_id = c.doc_a
        JOIN docs2 tb ON tb.doc_id = c.doc_b
        WHERE substr(ta.text, CAST(c.pos_a + 1 AS INT), {k})
            = substr(tb.text, CAST(c.pos_b + 1 AS INT), {k})
    )
    SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_shared
    FROM ver GROUP BY doc_a, doc_b
    HAVING count(DISTINCT fp) >= {min_shared}
    """


def _lm_ppl_sql() -> str:
    """Replay of relational_bigram_lm + lm_score_exact + ppl_tertiles:
    LM probabilities as one division of exact integers (bit-identical
    across engines), per-pair -log2 p on the 1e-6 BIGINT grid, exact
    ntile tertiles.  The float literals print via repr (shortest
    round-trip), so '0.30000000000000004' parses back to the exact
    double Spark's F.lit(1 - LAMBDA) carries."""
    from kgkit.operators.lm_quality import LAMBDA, OOV_P

    return f"""
    WITH alldocs AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x != '') AS ws
        FROM documents
    ),
    seedw AS (
        SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
        FROM alldocs WHERE doc_id % 10 = 0
    ),
    uni_c AS (SELECT w, count(*) AS c FROM seedw GROUP BY w),
    tot AS (SELECT sum(c) AS t_total, count(*) AS v_size FROM uni_c),
    uni AS (
        SELECT w, (2 * c + 1) / (2 * t_total + v_size) AS p_uni
        FROM uni_c CROSS JOIN tot
    ),
    bi_c AS (
        SELECT a.w AS prev, b.w AS w, count(*) AS c
        FROM seedw a JOIN seedw b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2
    ),
    bi AS (
        SELECT bi_c.prev, bi_c.w, (2 * bi_c.c + 1) / (2 * u.c + v_size) AS p_bi
        FROM bi_c JOIN uni_c u ON u.w = bi_c.prev CROSS JOIN tot
    ),
    docw AS (
        SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
        FROM alldocs
    ),
    pairs AS (
        SELECT a.doc_id, a.w AS prev, b.w AS w
        FROM docw a JOIN docw b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    nl AS (
        SELECT p.doc_id,
               CAST(round(-log2({LAMBDA!r} * COALESCE(bi.p_bi, 0.0)
                    + {1 - LAMBDA!r} * COALESCE(uni.p_uni, {OOV_P!r}))
                    * 1000000) AS BIGINT) AS nl_q
        FROM pairs p
        LEFT JOIN bi ON bi.prev = p.prev AND bi.w = p.w
        LEFT JOIN uni ON uni.w = p.w
    ),
    agg AS (SELECT doc_id, sum(nl_q) AS s, count(*) AS n FROM nl GROUP BY doc_id),
    sc AS (
        SELECT d.doc_id,
               COALESCE(round(a.s / (a.n * 1000000.0), 6), 20.0) AS lm_log2ppl
        FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lm_log2ppl,
           CASE ntile(3) OVER (ORDER BY lm_log2ppl, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM sc
    """


def _gopher_sql(src: str) -> str:
    """Gopher rule battery over {src}(doc_id, text) — shared verbatim by
    the quality_gopher oracle and corpus_clean_accounting stage 4."""
    return f"""
        SELECT *, CAST(CASE WHEN n_words BETWEEN 30 AND 100000
                             AND mean_word_len BETWEEN 3.0 AND 10.0
                             AND symbol_ratio <= 0.1
                             AND frac_alpha_words >= 0.8
                             AND n_stopwords >= 2
                             AND frac_bullet_lines <= 0.9
                             AND frac_ellipsis_lines <= 0.3
                        THEN 1 ELSE 0 END AS INT) AS keep
        FROM (
            SELECT doc_id,
                   CAST(len(w) AS BIGINT) AS n_words,
                   round(list_aggregate(list_transform(w, x -> len(x)), 'sum')
                         / CAST(len(w) AS DOUBLE), 6) AS mean_word_len,
                   round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                         / CAST(len(w) AS DOUBLE), 6) AS frac_alpha_words,
                   CAST(len(list_filter(w, x -> x IN ('the','be','to','of',
                        'and','that','have','with','a','in'))) AS BIGINT)
                       AS n_stopwords,
                   round((len(regexp_extract_all(text, '#'))
                          + len(regexp_extract_all(text, '\\.\\.\\.')))
                         / CAST(len(w) AS DOUBLE), 6) AS symbol_ratio,
                   round(len(list_filter(lines,
                             l -> regexp_matches(l, '^[-*•]')))
                         / CAST(len(lines) AS DOUBLE), 6) AS frac_bullet_lines,
                   round(len(list_filter(lines,
                             l -> regexp_matches(l, '\\.\\.\\.$')))
                         / CAST(len(lines) AS DOUBLE), 6)
                       AS frac_ellipsis_lines
            FROM (
                SELECT doc_id, text,
                       string_split(text, ' ') AS w,
                       string_split(text, chr(10)) AS lines
                FROM {src}
            )
        )
    """


def _corpus_clean_sql() -> str:
    """Stage-by-stage replay of kgkit.operators.corpus_clean
    clean_corpus over the accounting fixture (planted near-dup copies
    +100000, exact copies +200000 for doc_id % 9, messy urls):
    canonical-URL keep-min-id, md5 keep-min-id, MinHash+LSH greedy
    right-drop at threshold 0.5 (the MinHash pair-SQL fragments run
    over the s2 survivors, which is why that CTE is named docs2), then
    the Gopher keep flag."""
    return f"""
    WITH cc0 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id,
               text || ' near duplicate suffix tail' AS text
        FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 200000 AS doc_id, text
        FROM documents WHERE doc_id % 9 = 0
    ),
    ccu AS (SELECT doc_id, text, {_messy_url_expr()} AS url FROM cc0),
    ccanon AS ({_canonical_url_select('ccu')}),
    k1 AS (
        SELECT doc_id, text,
               COALESCE(canonical_url,
                        'doc://' || CAST(doc_id AS VARCHAR)) AS k
        FROM ccanon
    ),
    s1 AS (SELECT doc_id, text FROM k1
           QUALIFY doc_id = min(doc_id) OVER (PARTITION BY k)),
    s2 AS (SELECT doc_id, text FROM s1
           QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))),
    docs2 AS (SELECT doc_id, text FROM s2),
    {SHINGLED_CTE},
    dig AS (
        SELECT doc_id, sh,
               list_transform(sh, s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)
                   AS d
        FROM shingled
    ),
    signed AS (SELECT doc_id, sh, {_minhash_cols_sql()} FROM dig),
    bandt AS ({_bands_sql()}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bandt a JOIN bandt b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ),
    ver AS (
        SELECT c.doc_a, c.doc_b,
               len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
               len(sa.sh) AS n_a, len(sb.sh) AS n_b
        FROM cand c
        JOIN shingled sa ON sa.doc_id = c.doc_a
        JOIN shingled sb ON sb.doc_id = c.doc_b
    ),
    drops AS (
        SELECT DISTINCT greatest(doc_a, doc_b) AS doc_id FROM ver
        WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
    ),
    s3 AS (SELECT s2.doc_id, s2.text FROM s2
           WHERE s2.doc_id NOT IN (SELECT doc_id FROM drops)),
    g AS ({_gopher_sql('s3')}),
    s4 AS (SELECT doc_id FROM g WHERE keep = 1),
    cnt AS (
        SELECT (SELECT count(*) FROM cc0) AS input,
               (SELECT count(*) FROM s1) AS after_url_dedup,
               (SELECT count(*) FROM s2) AS after_exact_dedup,
               (SELECT count(*) FROM s3) AS after_near_dedup,
               (SELECT count(*) FROM s4) AS after_quality
    )
    SELECT CAST(input AS BIGINT) AS input,
           CAST(after_url_dedup AS BIGINT) AS after_url_dedup,
           CAST(after_exact_dedup AS BIGINT) AS after_exact_dedup,
           CAST(after_near_dedup AS BIGINT) AS after_near_dedup,
           CAST(after_quality AS BIGINT) AS after_quality,
           CAST(input - after_url_dedup AS BIGINT) AS dropped_url_dedup,
           CAST(after_url_dedup - after_exact_dedup AS BIGINT) AS dropped_exact,
           CAST(after_exact_dedup - after_near_dedup AS BIGINT)
               AS dropped_near_dup,
           CAST(after_near_dedup - after_quality AS BIGINT) AS dropped_quality
    FROM cnt
    """


def _quality_trained_sql() -> str:
    """Trained quality classifier forward (operators/quality_clf.py)
    replayed relationally: the packaged checkpoint's non-zero weights
    are injected as a VALUES table (the _trained_tags_cte discipline),
    the hashed unigram+bigram stream is rebuilt with the identical
    md5-7-hex-prefix bucket hash (the dedup shingle convention), and
    score_q = b_q + SUM(w_q) is an exact BIGINT; the logit is one IEEE
    division both engines perform identically.  Empty / single-word /
    all-OOV documents survive via the outer join back to the doc list
    (Spark's explode_outer twin)."""
    import numpy as np

    from kgkit.operators.quality_clf import D, Q, default_quality_clf

    m = default_quality_clf()
    nz = np.flatnonzero(m.w_q)
    wrows = ", ".join(f"({int(b)}, {int(m.w_q[b])})" for b in nz)
    return f"""
WITH qw AS (SELECT * FROM (VALUES {wrows}) t(bucket, w_q)),
qt AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x != '') AS ws
    FROM documents
),
qk AS (
    SELECT doc_id, unnest(list_concat(
        list_transform(ws, w -> 'u|' || w),
        CASE WHEN len(ws) < 2 THEN CAST([] AS VARCHAR[])
             ELSE list_transform(range(1, len(ws)),
                                 i -> 'b|' || ws[i] || ' ' || ws[i + 1])
        END)) AS k
    FROM qt
),
qs AS (
    SELECT k.doc_id, SUM(w.w_q) AS s
    FROM qk k JOIN qw w
      ON w.bucket = ('0x' || substr(md5(k.k), 1, 7))::BIGINT % {D}
    GROUP BY k.doc_id
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(q.s, 0) + {m.b_q} AS BIGINT) AS score_q,
       (COALESCE(q.s, 0) + {m.b_q}) / {float(Q)} AS logit,
       CAST(CASE WHEN COALESCE(q.s, 0) + {m.b_q} > 0
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM qt t LEFT JOIN qs q USING (doc_id)
"""


def _nfc_oracle_sql() -> str:
    from kgkit.operators.text_quality import (
        NFD_EVERY,
        NFD_ID_OFFSET,
        NFD_SUFFIX,
    )

    return f"""
        WITH nd AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {NFD_ID_OFFSET} AS doc_id,
                   text || '{NFD_SUFFIX}' AS text
            FROM documents WHERE doc_id % {NFD_EVERY} = 0
        ),
        n AS (SELECT doc_id, text, nfc_normalize(text) AS nf FROM nd)
        SELECT doc_id, text != nf AS changed,
               CAST(length(text) AS BIGINT) AS n_before,
               CAST(length(nf) AS BIGINT) AS n_after,
               md5(nf) AS nfc_md5
        FROM n
    """

PLANTED_DOCS_CTE = """
docs2 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id,
           text || ' near duplicate suffix tail' AS text
    FROM documents WHERE doc_id % 5 = 0
)
"""

SHINGLED_CTE = """
shingled AS (
    -- docs with < 3 words are dropped, matching the Spark-side guard
    -- in kgkit.operators.dedup.with_shingles
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2])) AS sh
    FROM docs2
    WHERE len(string_split(text, ' ')) >= 3
)
"""


def _minhash_cols_sql(k: int = 8) -> str:
    """Twin of kgkit.operators.dedup.minhash_signature: one md5 per
    shingle (28-bit hex-prefix fingerprint), k universal-hash mixes —
    SAME family constants imported from the engine module."""
    from kgkit.operators.dedup import MINHASH_P, minhash_family

    return ", ".join(
        f"list_aggregate(list_transform(d, x -> (x * {a} + {b}) % {MINHASH_P}), "
        f"'min') AS mh{i}"
        for i, (a, b) in enumerate(minhash_family(k))
    )


def _bands_sql(bands: int = 4, rows: int = 2) -> str:
    selects = []
    for b in range(bands):
        cols = " || '|' || ".join(f"mh{b * rows + r}" for r in range(rows))
        selects.append(
            f"SELECT doc_id, {b} AS band_idx, md5({cols}) AS band_hash FROM signed"
        )
    return " UNION ALL ".join(selects)


def _hyperplane_bucket_sql(vec_expr: str, planes: int = 4, dim: int = 64) -> str:
    """Same sign-LSH bucket as kgkit.operators.similarity.lsh_bucket —
    literals generated by the SAME hyperplanes() function."""
    from kgkit.operators.similarity import hyperplanes

    terms = []
    for i, plane in enumerate(hyperplanes(planes, dim)):
        lit = "[" + ", ".join(f"{float(x)}" for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {lit}) > 0 "
            f"THEN {2 ** i} ELSE 0 END)"
        )
    return " + ".join(terms)


_COS_SQL = """round(list_dot_product(ea, eb)
                 / (sqrt(list_dot_product(ea, ea))
                  * sqrt(list_dot_product(eb, eb))), 6)"""


def _qcos(a: str, b: str) -> str:
    """Cosine between two BIGINT[] columns in double precision —
    sequential left-to-right accumulation, same as the Spark engine's
    kgkit.operators.linking.cosine fold."""
    da, db = f"CAST({a} AS DOUBLE[])", f"CAST({b} AS DOUBLE[])"
    return (f"(list_dot_product({da}, {db}) / "
            f"(sqrt(list_dot_product({da}, {da})) * "
            f"sqrt(list_dot_product({db}, {db}))))")


def _ivf_kmeans_sql(n_cells: int = 8, n_probe: int = 2, iters: int = 2,
                    k: int = 3, scale: int = 1_000_000) -> str:
    """CTE-for-CTE mirror of similarity.ivf_kmeans_topk: integer
    quantization, seed centroids, ``iters`` Lloyd iterations with exact
    BIGINT sum centroids, final n_probe search with exact float cosine."""
    parts = [f"""
        corpus AS (
            SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
            FROM embeddings WHERE vec_id >= 10
        ),
        queries AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id < 10
        ),
        qc AS (
            SELECT neighbor_id, ce,
                   list_transform(ce, x -> CAST(round(x * {scale}, 0) AS BIGINT)) AS qv
            FROM corpus
        ),
        qq AS (
            SELECT query_id, qe,
                   list_transform(qe, x -> CAST(round(x * {scale}, 0) AS BIGINT)) AS qv
            FROM queries
        ),
        cents0 AS (
            SELECT neighbor_id AS cell, qv AS cv
            FROM qc ORDER BY neighbor_id LIMIT {n_cells}
        )"""]
    for i in range(1, iters + 1):
        parts.append(f""",
        assign{i} AS (
            SELECT qv, cell FROM (
                SELECT c.qv, t.cell,
                       row_number() OVER (PARTITION BY c.neighbor_id
                           ORDER BY {_qcos('c.qv', 't.cv')} DESC, t.cell ASC
                       ) AS crnk
                FROM qc c CROSS JOIN cents{i - 1} t
            ) WHERE crnk = 1
        ),
        comp{i} AS (
            SELECT cell, generate_subscripts(qv, 1) AS pos, unnest(qv) AS val
            FROM assign{i}
        ),
        cents{i} AS (
            SELECT cell, list(s ORDER BY pos) AS cv FROM (
                SELECT cell, pos, SUM(val) AS s FROM comp{i} GROUP BY 1, 2
            ) GROUP BY cell
        )""")
    parts.append(f""",
        cassign AS (
            SELECT neighbor_id, ce, cell FROM (
                SELECT c.neighbor_id, c.ce, t.cell,
                       row_number() OVER (PARTITION BY c.neighbor_id
                           ORDER BY {_qcos('c.qv', 't.cv')} DESC, t.cell ASC
                       ) AS crnk
                FROM qc c CROSS JOIN cents{iters} t
            ) WHERE crnk <= 1
        ),
        qassign AS (
            SELECT query_id, qe, cell FROM (
                SELECT q.query_id, q.qe, t.cell,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_qcos('q.qv', 't.cv')} DESC, t.cell ASC
                       ) AS crnk
                FROM qq q CROSS JOIN cents{iters} t
            ) WHERE crnk <= {n_probe}
        ),
        scored AS (
            SELECT query_id, neighbor_id,
                   max(round(list_dot_product(qe, ce)
                       / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 6)) AS cos
            FROM qassign q JOIN cassign c USING (cell)
            GROUP BY query_id, neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {k}""")
    return "WITH " + "".join(parts)


def _host_authority_sql(iters: int = 5, q_grid: int = 1 << 40,
                        num: int = 85, den: int = 100) -> str:
    """Integer-exact PageRank over the WARC fixture's planted host
    graph (warc.fixture_anchors): per doc i of n, absolute links to
    docs (7i+1)%n and (13i+5)%n (host = w{j%8}) plus a root-relative
    link that resolves to the SOURCE host and is therefore dropped as a
    self-edge — so the oracle's edge list is the two cross-host
    formulas with src<>dst.  The recurrence is the verbatim twin of
    operators.linkgraph.pagerank: all BIGINT on the 1/2^40 grid
    (DuckDB's SUM widens to HUGEINT; values stay far inside int64 and
    the final projection casts back), ``//`` here == ``div`` there
    (all quantities non-negative)."""
    its = []
    prev = "r0"
    for t in range(1, iters + 1):
        its.append(f"""
        r{t} AS (
            SELECT nd.node,
                   par.base + ({num} * COALESCE(c.c, 0)) // {den} AS rank_q
            FROM nodes nd CROSS JOIN par
            LEFT JOIN (
                SELECT e.dst AS dn, SUM((r.rank_q * e.w) // e.out_w) AS c
                FROM ew e JOIN {prev} r ON r.node = e.src
                GROUP BY e.dst
            ) c ON c.dn = nd.node
        )""")
        prev = f"r{t}"
    return f"""
        WITH nd_n AS (SELECT COUNT(*) AS cnt FROM documents),
        lk AS (
            SELECT 'w' || CAST(doc_id % 8 AS VARCHAR) || '.example.org' AS src,
                   'w' || CAST(((7 * doc_id + 1) % cnt) % 8 AS VARCHAR)
                       || '.example.org' AS dst
            FROM documents CROSS JOIN nd_n
            UNION ALL
            SELECT 'w' || CAST(doc_id % 8 AS VARCHAR) || '.example.org',
                   'w' || CAST(((13 * doc_id + 5) % cnt) % 8 AS VARCHAR)
                       || '.example.org'
            FROM documents CROSS JOIN nd_n
        ),
        edges AS (
            SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
            FROM lk WHERE src <> dst GROUP BY src, dst
        ),
        outw AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
        inw AS (SELECT dst, SUM(w) AS in_w FROM edges GROUP BY dst),
        ew AS (
            SELECT e.src, e.dst, e.w, o.out_w
            FROM edges e JOIN outw o ON o.src = e.src
        ),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        par AS (
            SELECT ({q_grid} // COUNT(*)) AS r0v,
                   (({den - num} * ({q_grid} // COUNT(*))) // {den}) AS base
            FROM nodes
        ),
        r0 AS (SELECT node, r0v AS rank_q FROM nodes CROSS JOIN par),
        {",".join(its)}
        SELECT f.node AS host,
               CAST(f.rank_q AS BIGINT) AS rank_q,
               CAST(COALESCE(o.out_w, 0) AS BIGINT) AS out_w,
               CAST(COALESCE(i.in_w, 0) AS BIGINT) AS in_w
        FROM {prev} f
        LEFT JOIN outw o ON o.src = f.node
        LEFT JOIN inw i ON i.dst = f.node
    """


ORACLES = {
    "kg_mentions": f"""
        WITH {MENTIONS_CTE}
        SELECT url, mention_id, char_start, char_end, surface, tag FROM mentions
    """,
    # the SentencePiece (Ġ-convention) run must extract byte-identical
    # mentions: the oracle IS the word-level mention SQL — tokenization
    # is an implementation detail the pipeline must fully undo (slice ->
    # Ġ-merge -> [UNK] restore -> entity merge), and this row proves the
    # Ġ path undoes it as exactly as the '##' path does, corpus-wide
    # including the planted OOV/CJK/emoji pages
    "kg_mentions_sp": f"""
        WITH {MENTIONS_CTE}
        SELECT url, mention_id, char_start, char_end, surface, tag FROM mentions
    """,
    # M1/M2 + full W1-W8 lifecycle on the TRAINED head: the oracle
    # recomputes embedding-lookup -> matmul -> argmax -> autocorrect ->
    # entity merge relationally from the same packaged checkpoint —
    # the model genuinely disagrees with the gazetteer on ~17% of
    # pages, so this row checks the model path, not the rule path
    "kg_mentions_nn": _trained_mentions_sql(),
    # M3: softmax over the TRAINED logits (z_num/1024 exact on both
    # engines; exp/round(6) absorbs last-ulp libm differences)
    "predict_proba_nn": _trained_proba_sql(),
    # M3 production shape, canonicalized: one row per word, the
    # distribution as a sorted 'cls:micro' string on the integer 1e-6
    # grid.  Both engines round the softmax to 6 decimals first (the
    # exploded oracle above hash-proves those doubles equal), so
    # round(p*1e6) is the same bigint on both and string equality is
    # exact — no float formatting in the compare path.
    "predict_proba_nn_map": f"""
        WITH proba AS ({_trained_proba_sql()})
        SELECT url, pos,
               string_agg(
                   cls || ':' || CAST(CAST(round(proba * 1000000)
                                           AS BIGINT) AS VARCHAR),
                   ';' ORDER BY cls
               ) AS probas_str
        FROM proba
        GROUP BY url, pos
    """,
    "kg_linked": f"""
        WITH {LINKED_CTE}
        SELECT url, mention_id, char_start, char_end, surface, tag,
               entity_id, prior
        FROM linked
    """,
    "kg_canonical": f"""
        WITH RECURSIVE {CANON_CTE}
        SELECT entity_id, canonical_id FROM canon
    """,
    "kg_triples": f"""
        WITH RECURSIVE {TRIPLES_CTE}
        SELECT subj, pred, obj, url, char_start, char_end FROM triples
    """,
    "kg_entity_counts": f"""
        WITH RECURSIVE {TRIPLES_CTE}
        SELECT obj, CAST(count(*) AS BIGINT) AS n_triples
        FROM triples GROUP BY obj
    """,
    # stage 4b: entity-entity relation surfaces + NPMI (the full
    # linked+canon lineage replayed, then the gap-substring window)
    "kg_relations": f"WITH RECURSIVE {_relations_sql()}",
    "word_tags_bio": f"""
        WITH {WORDS_CTE}, {MARKED_CTE}
        SELECT 'doc://' || doc_id AS url,
               CAST(pos - 1 AS BIGINT) AS pos,
               word,
               CASE WHEN bi_tag IS NOT NULL THEN 'B-' || bi_tag
                    WHEN bi_cont THEN 'I-' ||
                        CASE WHEN prev_word = 'hash'  AND word = 'join'  THEN 'OP'
                             WHEN prev_word = 'table' AND word = 'scan'  THEN 'OP'
                             WHEN prev_word = 'sort'  AND word = 'merge' THEN 'OP' END
                    WHEN single_tag IS NOT NULL THEN 'B-' || single_tag
                    ELSE 'O' END AS tag
        FROM marked
    """,
    "ner_token_confusion": f"""
        WITH {WORDS_CTE}, {MARKED_CTE},
        stream AS (
            SELECT doc_id, pos - 1 AS pos,
                   CASE WHEN bi_tag IS NOT NULL THEN 'B-' || bi_tag
                        WHEN bi_cont THEN 'I-OP'
                        WHEN single_tag IS NOT NULL THEN 'B-' || single_tag
                        ELSE 'O' END AS true_tag
            FROM marked
        ),
        st AS (
            SELECT doc_id, pos, true_tag,
                   CASE WHEN true_tag != 'O' AND (pos * 31 + doc_id) % 7 = 0
                        THEN 'O' ELSE true_tag END AS pred_tag
            FROM stream
        )
        SELECT true_tag AS "true", pred_tag AS pred,
               CAST(count(*) AS BIGINT) AS n
        FROM st GROUP BY 1, 2
    """,
    "ner_entity_prf": f"""
        WITH {WORDS_CTE}, {MARKED_CTE},
        stream AS (
            SELECT doc_id, pos - 1 AS pos,
                   CASE WHEN bi_tag IS NOT NULL THEN 'B-' || bi_tag
                        WHEN bi_cont THEN 'I-OP'
                        WHEN single_tag IS NOT NULL THEN 'B-' || single_tag
                        ELSE 'O' END AS true_tag
            FROM marked
        ),
        st AS (
            SELECT doc_id, pos, true_tag,
                   CASE WHEN true_tag != 'O' AND (pos * 31 + doc_id) % 7 = 0
                        THEN 'O' ELSE true_tag END AS pred_tag
            FROM stream
        ),
        tmarks AS (SELECT doc_id, pos, true_tag AS tag FROM st),
        pmarks AS (SELECT doc_id, pos, pred_tag AS tag FROM st),
        tchunks AS ({_chunks_sql('tmarks')}),
        pchunks AS ({_chunks_sql('pmarks')}),
        j AS (
            SELECT COALESCE(t.cls, p.cls) AS cls,
                   t.cls IS NOT NULL AS in_true,
                   p.cls IS NOT NULL AS in_pred
            FROM tchunks t
            FULL OUTER JOIN pchunks p
              ON t.doc_id = p.doc_id AND t.cls = p.cls
             AND t.start_pos = p.start_pos AND t.end_pos = p.end_pos
        )
        SELECT cls,
               CAST(sum(CASE WHEN in_true AND in_pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN NOT in_true AND in_pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN in_true AND NOT in_pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN in_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
               CAST(sum(CASE WHEN in_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred
        FROM j GROUP BY cls
    """,
    # A6: the BIO repair rule as a lag window over the eval stream
    "asr_corrected_bio": f"""
        WITH {WORDS_CTE}, {MARKED_CTE}, {EVAL_ST_CTE},
        a AS (
            SELECT doc_id, pos, pred_tag,
                   lag(pred_tag) OVER (PARTITION BY doc_id ORDER BY pos) AS pv
            FROM st
        ),
        r AS (
            SELECT doc_id, pos, pred_tag,
                   CASE WHEN pred_tag LIKE 'I-%'
                         AND (pv IS NULL OR pv NOT IN
                              ('B-' || regexp_extract(pred_tag, '([^-]+)$', 1),
                               'I-' || regexp_extract(pred_tag, '([^-]+)$', 1)))
                        THEN 'B-' || regexp_extract(pred_tag, '([^-]+)$', 1)
                        ELSE pred_tag END AS pred_asr
            FROM a
        )
        SELECT 'doc://' || doc_id AS seq_id, CAST(pos AS BIGINT) AS pos,
               pred_tag AS pred, pred_asr,
               CAST(CASE WHEN pred_asr != pred_tag THEN 1 ELSE 0 END AS INT)
                   AS asr_changed
        FROM r
    """,
    # A9: per-subset micro P/R/F1 at both levels, reference failure
    # codes (-1) included — the oracle twin of metrics_fanout_df
    "eval_fanout": f"""
        WITH {WORDS_CTE}, {MARKED_CTE}, {EVAL_ST_CTE},
        conf AS (
            SELECT true_tag AS t, pred_tag AS p, count(*) AS n
            FROM st GROUP BY 1, 2
        ),
        labs AS (
            SELECT DISTINCT l FROM (
                SELECT t AS l FROM conf UNION SELECT p AS l FROM conf
            )
        ),
        ls AS (
            SELECT labs.l AS l,
                   COALESCE(sum(CASE WHEN c.t = labs.l AND c.p = labs.l
                                     THEN c.n END), 0) AS tp,
                   COALESCE(sum(CASE WHEN c.p = labs.l THEN c.n END), 0)
                       AS n_pred,
                   COALESCE(sum(CASE WHEN c.t = labs.l THEN c.n END), 0)
                       AS n_true
            FROM labs LEFT JOIN conf c ON c.t = labs.l OR c.p = labs.l
            GROUP BY labs.l
        ),
        tmarks AS (SELECT doc_id, pos, true_tag AS tag FROM st),
        pmarks AS (SELECT doc_id, pos, pred_tag AS tag FROM st),
        tchunks AS ({_chunks_sql('tmarks')}),
        pchunks AS ({_chunks_sql('pmarks')}),
        j AS (
            SELECT COALESCE(t.cls, p.cls) AS cls,
                   t.cls IS NOT NULL AS in_true,
                   p.cls IS NOT NULL AS in_pred
            FROM tchunks t
            FULL OUTER JOIN pchunks p
              ON t.doc_id = p.doc_id AND t.cls = p.cls
             AND t.start_pos = p.start_pos AND t.end_pos = p.end_pos
        ),
        ecnt AS (
            SELECT cls,
                   sum(CASE WHEN in_true AND in_pred THEN 1 ELSE 0 END) AS tp,
                   sum(CASE WHEN NOT in_true AND in_pred THEN 1 ELSE 0 END) AS fp,
                   sum(CASE WHEN in_true AND NOT in_pred THEN 1 ELSE 0 END) AS fn
            FROM j GROUP BY cls
        ),
        -- per-class values under zero_division 0.0 + undefinedness
        -- flags: a subset's macro is the mean of these, except a
        -- single-class subset where an undefined denominator is -1
        -- (mirrors metrics_fanout_df's macro columns exactly)
        ls3 AS (
            SELECT *, CASE WHEN p0 + r0 > 0 THEN 2 * p0 * r0 / (p0 + r0)
                           ELSE 0.0 END AS f0
            FROM (
                SELECT *,
                   CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END AS p0,
                   CASE WHEN n_true > 0 THEN tp / n_true ELSE 0.0 END AS r0,
                   CASE WHEN n_pred = 0 THEN 1 ELSE 0 END AS pund,
                   CASE WHEN n_true = 0 THEN 1 ELSE 0 END AS rund
                FROM ls
            )
        ),
        ecnt3 AS (
            SELECT *, CASE WHEN ep0 + er0 > 0
                           THEN 2 * ep0 * er0 / (ep0 + er0)
                           ELSE 0.0 END AS ef0
            FROM (
                SELECT *,
                   CASE WHEN tp + fp > 0 THEN tp / (tp + fp)
                        ELSE 0.0 END AS ep0,
                   CASE WHEN tp + fn > 0 THEN tp / (tp + fn)
                        ELSE 0.0 END AS er0
                FROM ecnt
            )
        ),
        allb AS (
            SELECT 'token' AS level, 'all' AS subset, sum(tp) AS tp,
                   sum(n_pred) AS np, sum(n_true) AS nt, 0.0 AS und,
                   COALESCE(avg(p0), 0.0) AS pm,
                   COALESCE(avg(r0), 0.0) AS rm,
                   COALESCE(avg(f0), 0.0) AS fm
            FROM ls3
            UNION ALL
            SELECT 'token', 'fil', sum(tp), sum(n_pred), sum(n_true),
                   CASE WHEN count(*) = 1 THEN -1.0 ELSE 0.0 END,
                   CASE WHEN count(*) = 1 AND max(pund) = 1 THEN -1.0
                        ELSE COALESCE(avg(p0), 0.0) END,
                   CASE WHEN count(*) = 1 AND max(rund) = 1 THEN -1.0
                        ELSE COALESCE(avg(r0), 0.0) END,
                   CASE WHEN count(*) = 1
                         AND (max(pund) = 1 OR max(rund) = 1) THEN -1.0
                        ELSE COALESCE(avg(f0), 0.0) END
            FROM ls3 WHERE l != 'O'
            UNION ALL
            -- single-class subsets: macro == micro (mean of one, with
            -- -1 propagated through an undefined denominator)
            SELECT 'token', l, tp, n_pred, n_true, -1.0,
                   CASE WHEN pund = 1 THEN -1.0 ELSE p0 END,
                   CASE WHEN rund = 1 THEN -1.0 ELSE r0 END,
                   CASE WHEN pund = 1 OR rund = 1 THEN -1.0 ELSE f0 END
            FROM ls3 WHERE l != 'O'
            UNION ALL
            SELECT 'entity', 'fil', sum(tp), sum(tp) + sum(fp),
                   sum(tp) + sum(fn), -1.0,
                   COALESCE(avg(ep0), 0.0), COALESCE(avg(er0), 0.0),
                   COALESCE(avg(ef0), 0.0)
            FROM ecnt3
            UNION ALL
            -- entity per-class ('ind') rows have NO macro (the
            -- reference's per-class dict carries only micro keys)
            SELECT 'entity', pl.subset, e.tp,
                   CASE WHEN e.tp IS NOT NULL THEN e.tp + e.fp END,
                   CASE WHEN e.tp IS NOT NULL THEN e.tp + e.fn END, -1.0,
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE)
            FROM (SELECT DISTINCT regexp_replace(l, '^[BILU]-', '') AS subset
                  FROM ls WHERE l != 'O') pl
            LEFT JOIN ecnt3 e ON e.cls = pl.subset
        ),
        pr AS (
            SELECT level, subset,
                   CASE WHEN np > 0 THEN tp / np ELSE und END AS p,
                   CASE WHEN nt > 0 THEN tp / nt ELSE und END AS r,
                   pm, rm, fm
            FROM allb
        )
        SELECT level, subset,
               round(p, 6) AS precision_micro,
               round(r, 6) AS recall_micro,
               round(CASE WHEN p = -1.0 OR r = -1.0 THEN -1.0
                          WHEN p + r > 0 THEN 2 * p * r / (p + r)
                          ELSE 0.0 END, 6) AS f1_micro,
               round(pm, 6) AS precision_macro,
               round(rm, 6) AS recall_macro,
               round(fm, 6) AS f1_macro
        FROM pr
    """,
    # training-export packing (operators/packing.py): identical
    # md5-prefix id arithmetic, per-shard running offset, window index
    # = gpos // max_len, tail windows (< max_len tokens) dropped
    "pack_sequences": """
        WITH pids AS (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                       % 64 AS shard,
                   list_append(
                       list_transform(
                           regexp_extract_all(text,
                               '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'),
                           t -> ('0x' || substr(md5(t), 1, 7))::BIGINT % 32768),
                       CAST(32768 AS BIGINT)) AS ids
            FROM documents
        ),
        offs AS (
            SELECT doc_id, shard, ids,
                   COALESCE(sum(len(ids)) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS doc_start
            FROM pids
        ),
        ptoks AS (
            SELECT shard, doc_id,
                   CAST(doc_start + generate_subscripts(ids, 1) - 1 AS BIGINT)
                       AS gpos,
                   unnest(ids) AS id
            FROM offs
        ),
        pwin AS (
            SELECT shard, doc_id, gpos, id,
                   CAST(gpos // 256 AS BIGINT) AS seq_id
            FROM ptoks
        ),
        pchunks AS (
            SELECT shard, seq_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   md5(string_agg(CAST(id AS VARCHAR), ';' ORDER BY gpos))
                       AS seq_hash
            FROM pwin
            GROUP BY shard, seq_id
        )
        SELECT shard, seq_id, n_tokens, n_docs, seq_hash
        FROM pchunks WHERE n_tokens = 256
    """,
    "dataset_stats": f"""
        WITH {WORDS_CTE}, {MARKED_CTE},
        plain AS (
            SELECT CASE WHEN bi_tag IS NOT NULL THEN bi_tag
                        WHEN bi_cont THEN 'OP'
                        WHEN single_tag IS NOT NULL THEN single_tag
                        ELSE 'O' END AS tag
            FROM marked
        )
        SELECT tag,
               CAST(count(*) AS BIGINT) AS n,
               round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM plain), 6)
                   AS frac_with_o,
               CASE WHEN tag = 'O' THEN -1.0
                    ELSE round(count(*) / (SELECT CAST(count(*) AS DOUBLE)
                                           FROM plain WHERE tag != 'O'), 6)
               END AS frac_without_o
        FROM plain GROUP BY tag
    """,
    "split_phases": """
        SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                    WHEN doc_id % 10 = 8 THEN 'val'
                    ELSE 'test' END AS phase,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY 1
    """,
    "lang_id": """
        WITH scored AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split(text, ' '),
                                   w -> w IN ('the', 'a'))) /
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
            FROM documents
        )
        SELECT lang,
               CASE WHEN stop_ratio > 0.03 THEN 'en' ELSE 'other' END AS pred_lang,
               CAST(count(*) AS BIGINT) AS n
        FROM scored GROUP BY 1, 2
    """,
    "token_count_bpe": """
        WITH toks AS (
            SELECT doc_id, len(text) AS n_chars_t,
                   regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')
                       AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_bpe_tokens,
               CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_bpe,
               CASE WHEN len(t) > 0
                    THEN round(n_chars_t / CAST(len(t) AS DOUBLE), 6)
               END AS chars_per_token
        FROM toks
    """,
    "quality_gopher": _gopher_sql("documents"),
    "repetition_ngrams": """
        WITH d AS (
            SELECT doc_id, text, string_split(text, ' ') AS w
            FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ), grams AS (
            SELECT doc_id, len(text) AS n_chars_t,
                   unnest(list_transform(
                       generate_series(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i + 1])) AS ngram
            FROM d
        ), counts AS (
            SELECT doc_id, n_chars_t, ngram, count(*) AS cnt
            FROM grams GROUP BY 1, 2, 3
        )
        SELECT doc_id, ngram AS top_ngram,
               CAST(cnt AS BIGINT) AS top_ngram_n,
               round(cnt * len(ngram) / CAST(n_chars_t AS DOUBLE), 6)
                   AS top_ngram_char_frac
        FROM counts
        QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY cnt DESC, ngram DESC) = 1
    """,
    "pii_scrub": """
        WITH planted AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                || '@example.com' ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                                || '.0.1' ELSE '' END
                   || CASE WHEN doc_id % 13 = 0
                           THEN ' call 555-0142' ELSE '' END AS text
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}'))
                   AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text,
                   '\\b\\d{1,3}[.]\\d{1,3}[.]\\d{1,3}[.]\\d{1,3}\\b'))
                   AS BIGINT) AS n_ipv4,
               CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{4}\\b'))
                   AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                   '\\b\\d{1,3}[.]\\d{1,3}[.]\\d{1,3}[.]\\d{1,3}\\b',
                   '<IP>', 'g'),
                   '\\b\\d{3}-\\d{4}\\b', '<PHONE>', 'g')) AS scrubbed_hash
        FROM planted
    """,
    # per-host boilerplate line removal (operators/boilerplate.py):
    # rebuild the identical template fixture (banner + 6-word re-flow
    # + every-3rd-doc footer over the Zipf hosts), count distinct docs
    # per (host, line digest), strip >= 5-doc lines, witness the
    # reassembled text by md5 — change operator and oracle together
    "boilerplate_lines": """
        WITH bdocs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'mega.example.org'
                        ELSE 'h' || CAST(doc_id % 19 AS VARCHAR)
                             || '.example.net' END AS host,
                   string_split(text, ' ') AS w
            FROM documents
        ),
        btext AS (
            SELECT doc_id, host,
                   'site ' || host || ' navigation menu' || chr(10)
                   || array_to_string(
                          list_transform(
                              range(0, CAST(ceil(len(w) / 6.0) AS INT)),
                              i -> array_to_string(w[i*6+1 : i*6+6], ' ')),
                          chr(10))
                   || CASE WHEN doc_id % 3 = 0
                           THEN chr(10) || 'copyright ' || host
                           ELSE '' END AS text
            FROM bdocs
        ),
        blines AS (
            SELECT doc_id, host,
                   unnest(string_split(text, chr(10))) AS line,
                   CAST(generate_subscripts(string_split(text, chr(10)), 1)
                        AS BIGINT) AS pos
            FROM btext
        ),
        bboiler AS (
            SELECT host, lh FROM (
                SELECT host, lh, count(*) AS n_docs FROM (
                    SELECT DISTINCT host, md5(line) AS lh, doc_id
                    FROM blines
                ) GROUP BY host, lh
            ) WHERE n_docs >= 5
        ),
        bflag AS (
            SELECT l.doc_id, l.host, l.pos, l.line,
                   (b.lh IS NOT NULL) AS is_b
            FROM blines l LEFT JOIN bboiler b
              ON b.host = l.host AND b.lh = md5(l.line)
        )
        SELECT doc_id, host,
               CAST(sum(CASE WHEN is_b THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_kept,
               CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed,
               md5(COALESCE(string_agg(CASE WHEN NOT is_b THEN line END,
                                       chr(10) ORDER BY pos), ''))
                   AS clean_hash
        FROM bflag
        GROUP BY doc_id, host
    """,
    # NFC canonicalization: DuckDB nfc_normalize vs the python
    # unicodedata UDF — both implement Unicode canonical composition;
    # the planted NFD suffix literal is generated from the SAME
    # constant the Spark fixture uses (text_quality.NFD_SUFFIX)
    "unicode_nfc": _nfc_oracle_sql(),
    "dedup_exact": """
        SELECT md5(text) AS text_hash,
               CAST(count(*) AS BIGINT) AS n_copies,
               CAST(min(doc_id) AS BIGINT) AS keep_doc_id
        FROM documents GROUP BY md5(text)
    """,
    # replay of linkgraph.with_anchor_html's string arithmetic: doc i
    # emits an absolute anchor to j1=(7i+1)%997 with text 'entity j1%40'
    # and a root-relative anchor to j2=(3i+2)%997 whose decorated body
    # (' <b>Entity X</b> &amp; News ') normalizes to 'entity X & news';
    # the relative target resolves against doc i's own host w{i%8}
    "anchor_aliases": """
        WITH a AS (
            SELECT 'https://w'
                       || CAST(((7 * doc_id + 1) % 997) % 8 AS VARCHAR)
                       || '.example.org/d/'
                       || CAST((7 * doc_id + 1) % 997 AS VARCHAR) AS dst_url,
                   'entity '
                       || CAST(((7 * doc_id + 1) % 997) % 40 AS VARCHAR)
                       AS alias
            FROM documents
            UNION ALL
            SELECT 'https://w' || CAST(doc_id % 8 AS VARCHAR)
                       || '.example.org/d/'
                       || CAST((3 * doc_id + 2) % 997 AS VARCHAR),
                   'entity '
                       || CAST(((3 * doc_id + 2) % 997) % 40 AS VARCHAR)
                       || ' & news'
            FROM documents
        )
        SELECT dst_url, alias, CAST(COUNT(*) AS BIGINT) AS n_refs
        FROM a GROUP BY dst_url, alias
    """,
    "user_sessions": """
        WITH g AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        s AS (
            SELECT *, sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts) AS session_no
            FROM g
        )
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(session_no AS BIGINT) AS session_no,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS total_value,
               min(ts) AS session_start,
               max(ts) AS session_end
        FROM s GROUP BY user_id, session_no
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 6) AS avg_qty,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    # DuckDB's NATIVE ASOF LEFT JOIN — an independent algorithm for
    # the same inclusive point-in-time semantics the Spark operator
    # (kgkit/operators/asof.py) builds from a union-tag + per-key
    # window; clicks pre-deduped per (user_id, ts) so the tie rule is
    # engine-independent; -1 sentinels keep unmatched columns BIGINT
    "events_asof": """
        WITH c AS (
            SELECT user_id, ts, max(event_id) AS event_id
            FROM events WHERE event_type = 'click'
            GROUP BY user_id, ts
        ), p AS (
            SELECT event_id, user_id, ts, value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id,
               p.user_id,
               CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_s,
               p.value,
               COALESCE(c.event_id, -1) AS click_event_id,
               COALESCE(CAST(floor(epoch(c.ts)) AS BIGINT), -1)
                   AS click_ts_s,
               COALESCE(CAST(floor(epoch(p.ts)) AS BIGINT)
                   - CAST(floor(epoch(c.ts)) AS BIGINT), -1) AS gap_s
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "media_stats": """
        SELECT 'text/html' AS media_type,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
        FROM documents GROUP BY 1
    """,
    # link graph: planted-anchor formula + unrolled BIGINT PageRank
    "host_authority": _host_authority_sql(),
    # S4 layout A roundtrip: the ingest must reproduce the word/tag
    # stream the fixture was encoded from
    "hf_pretokenized_ingest": f"""
        WITH {WORDS_CTE}, {MARKED_CTE}
        SELECT 'doc://' || doc_id AS url,
               CAST(pos - 1 AS BIGINT) AS pos,
               word AS token,
               CASE WHEN bi_tag IS NOT NULL THEN 'B-' || bi_tag
                    WHEN bi_cont THEN 'I-' ||
                        CASE WHEN prev_word = 'hash'  AND word = 'join'  THEN 'OP'
                             WHEN prev_word = 'table' AND word = 'scan'  THEN 'OP'
                             WHEN prev_word = 'sort'  AND word = 'merge' THEN 'OP' END
                    WHEN single_tag IS NOT NULL THEN 'B-' || single_tag
                    ELSE 'O' END AS tag
        FROM marked
    """,
    # S4 layout B roundtrip: normalization undoes the planted +1000
    # document-offset shift, the filter drops the planted disconnected
    # entity -> exactly the original mention spans
    "hf_charspan_ingest": f"""
        WITH {MENTIONS_CTE}
        SELECT url, surface AS token, tag, char_start, char_end FROM mentions
    """,
    "tags_bilou": f"""
        WITH {WORDS_CTE}, {MARKED_CTE},
        pl AS (
            SELECT doc_id, pos - 1 AS pos,
                   CASE WHEN bi_tag IS NOT NULL THEN bi_tag
                        WHEN bi_cont THEN 'OP'
                        WHEN single_tag IS NOT NULL THEN single_tag
                        ELSE 'O' END AS p
            FROM marked
        ),
        x AS (
            SELECT doc_id, pos, p,
                   lag(p) OVER (PARTITION BY doc_id ORDER BY pos) AS pv,
                   lead(p) OVER (PARTITION BY doc_id ORDER BY pos) AS nx
            FROM pl
        )
        SELECT 'doc://' || doc_id AS url, CAST(pos AS BIGINT) AS pos,
               CASE WHEN p = 'O' THEN 'O'
                    WHEN (pv IS NULL OR pv != p) AND (nx IS NULL OR nx != p)
                         THEN 'U-' || p
                    WHEN (pv IS NULL OR pv != p) THEN 'B-' || p
                    WHEN (nx IS NULL OR nx != p) THEN 'L-' || p
                    ELSE 'I-' || p END AS tag_bilou
        FROM x
    """,
    "iob1_roundtrip": f"""
        WITH {WORDS_CTE}, {MARKED_CTE},
        bio AS (
            SELECT doc_id, pos - 1 AS pos,
                   CASE WHEN bi_tag IS NOT NULL THEN 'B-' || bi_tag
                        WHEN bi_cont THEN 'I-OP'
                        WHEN single_tag IS NOT NULL THEN 'B-' || single_tag
                        ELSE 'O' END AS tag,
                   CASE WHEN bi_tag IS NOT NULL THEN bi_tag
                        WHEN bi_cont THEN 'OP'
                        WHEN single_tag IS NOT NULL THEN single_tag
                        ELSE 'O' END AS p
            FROM marked
        ),
        a AS (
            SELECT *, lag(p) OVER (PARTITION BY doc_id ORDER BY pos) AS pp
            FROM bio
        ),
        i1 AS (
            SELECT doc_id, pos, tag,
                   CASE WHEN tag LIKE 'B-%' AND (pp IS NULL OR pp != p)
                        THEN 'I-' || p ELSE tag END AS tag_iob1
            FROM a
        ),
        b AS (
            SELECT *, lag(tag_iob1)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS pv
            FROM i1
        )
        SELECT 'doc://' || doc_id AS url, CAST(pos AS BIGINT) AS pos,
               tag_iob1,
               CASE WHEN tag_iob1 LIKE 'I-%'
                         AND NOT COALESCE(
                             pv = 'B-' || substr(tag_iob1, 3)
                             OR pv = 'I-' || substr(tag_iob1, 3), FALSE)
                    THEN 'B-' || substr(tag_iob1, 3)
                    ELSE tag_iob1 END AS tag_iob2,
               (CASE WHEN tag_iob1 LIKE 'I-%'
                          AND NOT COALESCE(
                              pv = 'B-' || substr(tag_iob1, 3)
                              OR pv = 'I-' || substr(tag_iob1, 3), FALSE)
                     THEN 'B-' || substr(tag_iob1, 3)
                     ELSE tag_iob1 END) = tag AS roundtrip_ok
        FROM b
    """,
    # same shingle/band/verify pair SQL as the retired pair query, then
    # transitively closed (recursive CTE — cluster diameters are tiny)
    # and collapsed to min-member canonical per doc
    "dedup_clusters": f"""
        WITH RECURSIVE {PLANTED_DOCS_CTE}, {SHINGLED_CTE},
        dig AS (
            SELECT doc_id, sh,
                   list_transform(sh, s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)
                       AS d
            FROM shingled
        ),
        signed AS (SELECT doc_id, sh, {_minhash_cols_sql()} FROM dig),
        bandt AS ({_bands_sql()}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bandt a JOIN bandt b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        ver AS (
            SELECT c.doc_a, c.doc_b,
                   len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
                   len(sa.sh) AS n_a, len(sb.sh) AS n_b
            FROM cand c
            JOIN shingled sa ON sa.doc_id = c.doc_a
            JOIN shingled sb ON sb.doc_id = c.doc_b
        ),
        pairs AS (
            SELECT doc_a, doc_b FROM ver
            WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
        ),
        sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a
        )
        SELECT CAST(a AS BIGINT) AS doc_id,
               CAST(LEAST(a, MIN(b)) AS BIGINT) AS canonical_id
        FROM reach GROUP BY a
    """,
    "dedup_incremental": f"""
        WITH {PLANTED_DOCS_CTE}, {SHINGLED_CTE},
        dig AS (
            SELECT doc_id, sh,
                   list_transform(sh, s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)
                       AS d
            FROM shingled
        ),
        signed AS (SELECT doc_id, sh, {_minhash_cols_sql()} FROM dig),
        bandt AS ({_bands_sql()}),
        cand AS (
            SELECT DISTINCT a.doc_id AS corpus_doc_id, b.doc_id AS new_doc_id
            FROM bandt a JOIN bandt b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
            WHERE a.doc_id < 100000 AND b.doc_id >= 100000
        ),
        ver AS (
            SELECT c.corpus_doc_id, c.new_doc_id,
                   len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
                   len(sa.sh) AS n_a, len(sb.sh) AS n_b
            FROM cand c
            JOIN shingled sa ON sa.doc_id = c.corpus_doc_id
            JOIN shingled sb ON sb.doc_id = c.new_doc_id
        )
        SELECT CAST(corpus_doc_id AS BIGINT) AS corpus_doc_id,
               CAST(new_doc_id AS BIGINT) AS new_doc_id,
               round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
        FROM ver
        WHERE round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) >= 0.5
    """,
    "dedup_ngram_jaccard": f"""
        WITH {PLANTED_DOCS_CTE}, {SHINGLED_CTE},
        ex AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
        kept AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 1000),
        ex2 AS (SELECT ex.doc_id, ex.s FROM ex JOIN kept USING (s)),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shingled)
        SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
               round(n_inter / CAST(na.n_sh + nb.n_sh - n_inter AS DOUBLE), 6)
                   AS jaccard
        FROM inter
        JOIN sizes na ON na.doc_id = doc_a
        JOIN sizes nb ON nb.doc_id = doc_b
        WHERE round(n_inter / CAST(na.n_sh + nb.n_sh - n_inter AS DOUBLE), 6) >= 0.5
    """,
    "dedup_embedding_cosine": f"""
        WITH emb2 AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            UNION ALL
            SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
            FROM embeddings WHERE vec_id % 20 = 0
        ),
        bucketed AS (
            SELECT vec_id, e, {_hyperplane_bucket_sql('e', planes=8)} AS bucket
            FROM emb2
        ),
        -- mirror embedding_near_dups' max_bucket skew guard (buckets
        -- over 1000 members are dropped before the self-join)
        kept AS (
            SELECT b.* FROM bucketed b
            JOIN (SELECT bucket FROM bucketed
                  GROUP BY bucket HAVING count(*) <= 1000) k
              USING (bucket)
        ),
        pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   a.e AS ea, b.e AS eb
            FROM kept a JOIN kept b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT CAST(vec_a AS BIGINT) AS vec_a, CAST(vec_b AS BIGINT) AS vec_b,
               {_COS_SQL} AS cos
        FROM pairs
        WHERE {_COS_SQL} >= 0.999
    """,
    "ann_topk_lsh": f"""
        WITH queries AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS ea,
                   {_hyperplane_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings WHERE vec_id < 10
        ),
        corpus AS (
            SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS eb,
                   {_hyperplane_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings WHERE vec_id >= 10
        ),
        scored AS (
            SELECT q.query_id, c.neighbor_id, {_COS_SQL} AS cos
            FROM queries q JOIN corpus c ON q.bucket = c.bucket
        )
        SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= 3
    """,
    "ann_topk_ivf_kmeans": _ivf_kmeans_sql(),
    "substring_dup_winnow": _winnow_pairs_sql(),
    "lm_ppl_buckets": _lm_ppl_sql(),
    "quality_trained": _quality_trained_sql(),
    "corpus_clean_accounting": _corpus_clean_sql(),
    # the canonicalizer re-implemented in DuckDB (regexp + list ops) —
    # an INDEPENDENT engine value-checks the JVM column expression
    "url_canonical_dedup": f"""
        WITH m AS (SELECT doc_id, {_messy_url_expr()} AS url FROM documents),
        c AS ({_canonical_url_select('m')})
        SELECT canonical_url,
               CAST(count(*) AS BIGINT) AS n_variants,
               string_agg(url, '|' ORDER BY url) AS variants_str
        FROM c WHERE canonical_url IS NOT NULL
        GROUP BY canonical_url
    """,
    # RFC 9309 longest-match (Allow wins ties) replayed as a ranking
    # window; regexes compiled by the SAME python pattern compiler the
    # Spark rule table uses (urls.robots_rules_values_sql)
    "robots_filter": f"""
        WITH u AS (
            SELECT doc_id,
                   'h' || CAST(doc_id % 5 AS VARCHAR) || '.example.net'
                       AS chost,
                   CASE WHEN doc_id % 7 = 0
                             THEN '/public/a' || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 7 = 1
                             THEN '/private/x' || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 7 = 2
                             THEN '/private/ok' || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 7 = 3
                             THEN '/files/r' || CAST(doc_id AS VARCHAR) || '.pdf'
                        WHEN doc_id % 7 = 4
                             THEN '/tmp/cache/' || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 7 = 5 THEN '/'
                        ELSE '/docs/guide' || CAST(doc_id AS VARCHAR)
                   END AS cpath
            FROM documents
        ),
        r AS (SELECT * FROM {_robots_values_sql()} t(host, allow, plen, rx)),
        m AS (
            SELECT u.doc_id, 'https://' || u.chost || u.cpath AS url,
                   r.allow, r.plen,
                   COALESCE(r.rx IS NOT NULL
                            AND regexp_matches(u.cpath, r.rx), FALSE) AS hit
            FROM u LEFT JOIN r ON u.chost = r.host
        ),
        best AS (
            SELECT doc_id, url, CASE WHEN hit THEN allow END AS a,
                   row_number() OVER (PARTITION BY doc_id
                       ORDER BY hit DESC, plen DESC NULLS LAST,
                                allow DESC NULLS LAST) AS rn
            FROM m
        )
        SELECT doc_id, url, CAST(COALESCE(a, TRUE) AS INT) AS allowed
        FROM best WHERE rn = 1
    """,
    # exact replay of the md5 hash-threshold draw (hash_fn='md5' mode)
    "sample_mixture": """
        WITH t AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0 THEN 'head'
                        WHEN doc_id % 4 = 1 THEN 'middle'
                        WHEN doc_id % 4 = 2 THEN 'skip'
                        ELSE 'tail' END AS tier
            FROM documents
        ),
        u AS (
            SELECT doc_id, tier,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1'), 1, 7))
                       ::BIGINT % 1000000 AS u
            FROM t WHERE tier IN ('head', 'middle', 'tail')
        ),
        n AS (
            SELECT doc_id, tier,
                   (CASE tier WHEN 'head' THEN 2 WHEN 'middle' THEN 1
                              ELSE 0 END)
                   + (CASE WHEN u < (CASE tier WHEN 'head' THEN 300000
                                     WHEN 'tail' THEN 250000 ELSE 0 END)
                           THEN 1 ELSE 0 END) AS n
            FROM u
        )
        SELECT doc_id, tier, CAST(unnest(range(1, n + 1)) AS INT) AS replica
        FROM n WHERE n >= 1
    """,
    # the fixture wraps each doc as title+body HTML, so the whole WARC
    # framing -> HTTP split -> HTML->text chain must reproduce
    # 'doc {id} {text}' byte-exactly
    "warc_pages": """
        SELECT 'https://w' || CAST(doc_id % 8 AS VARCHAR) || '.example.org/d/'
                   || CAST(doc_id AS VARCHAR) AS url,
               CAST(length('doc ' || CAST(doc_id AS VARCHAR) || ' ' || text)
                   AS BIGINT) AS n_chars,
               md5('doc ' || CAST(doc_id AS VARCHAR) || ' ' || text)
                   AS text_md5
        FROM documents
    """,
}
