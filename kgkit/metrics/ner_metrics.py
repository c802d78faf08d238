"""NER evaluation metrics as native Spark aggregations (SURVEY §2.8 A1-A9).

Re-expresses the reference's metric engine
(nerblackbox/modules/ner_training/metrics/ner_metrics.py:22-537) without
sklearn/seqeval: every metric reduces to TP/FP/FN/support counts, so the
distributed part is

  * token level:  ONE groupBy(true, pred) confusion aggregation
  * entity level: strict-scheme chunk extraction (two window passes) +
                  a full-outer chunk join + ONE groupBy(class) count

and the final arithmetic — including the reference's −1 "failure value"
semantics, which it produces by trapping sklearn/seqeval
UndefinedMetricWarning (ner_metrics.py:231-290, 320-357) — runs on the
driver over at most |labels|² rows.  The undefined-metric dance reduces
to denominators:

  * a metric is "undefined" (−1 under the reference's zero_division=
    'warn' paths) iff its denominator is 0,
  * zero_division=0 paths score an undefined class as 0.0,
  * a class is "well-defined" for macro counting iff BOTH its precision
    and recall denominators are > 0 (ner_metrics.py:359-442 —
    the zd=0-then-zd=1 probe sequence is equivalent to this test).

Entity-level chunk matching follows seqeval STRICT mode (IOB2 / BILOU):
a chunk is a maximal well-formed run — BIO: ``B-X (I-X)*`` (orphan I-X
is no chunk); BILOU: ``B-X (I-X)* L-X`` or ``U-X``.  Chunks compare by
(sequence, class, start, end) — the same mechanism the north rule's
triple-P/R scorer uses (full-outer join on the triple key).

The same counts also back the per-url triple parity join (SURVEY §2.9 J5).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FAILURE = -1.0

# input token-stream shape shared by all entry points:
#   (seq_id string, pos long, true string, pred string)


# ---------------------------------------------------------------------------
# distributed parts
# ---------------------------------------------------------------------------

def token_confusion(df: DataFrame) -> DataFrame:
    """(seq_id, pos, true, pred) -> (true, pred, n) — the sufficient
    statistic for every token-level metric.  One shuffle, ≤ |labels|²
    result rows."""
    return df.groupBy("true", "pred").agg(F.count("*").alias("n"))


def _bio_from_plain(tag: F.Column, prev: F.Column) -> F.Column:
    """plain -> BIO as a window expression (tags.py:98-132 semantics)."""
    return (
        F.when(tag == "O", F.lit("O"))
        .when(prev.isNull() | (prev != tag), F.concat(F.lit("B-"), tag))
        .otherwise(F.concat(F.lit("I-"), tag))
    )


def tags_as_bio(df: DataFrame, col: str, scheme: str) -> DataFrame:
    """Normalize a tag column to the entity-evaluation scheme: plain
    converts to BIO (NerMetrics does the same via Tags.convert_scheme,
    ner_metrics.py:73-85); bio/bilou pass through (bilou chunks are
    extracted with BILOU rules)."""
    if scheme != "plain":
        return df
    w = Window.partitionBy("seq_id").orderBy("pos")
    return df.withColumn(col, _bio_from_plain(F.col(col), F.lag(col).over(w)))


def entity_class_counts(
    df: DataFrame, scheme: str, pred_col: str = "pred"
) -> DataFrame:
    """(seq_id, pos, true, pred) -> (cls, tp, fp, fn, n_true, n_pred).

    seqeval-strict chunk sets compared on (seq_id, cls, start, end) —
    the triple-parity mechanism (J5).

    FUSED single-subtree shape (guide §2.4 — share the exchange, drop
    the join): both sides' run markers are computed in ONE window pass
    over a frame carrying both tag columns, then a side-tagged explode
    turns the two chunk streams into rows of one subtree — so the
    upstream token stream (at corpus scale, the word-level UDF) is
    STRUCTURALLY executed once.  The old shape built each side from its
    own pruned projection: two distinct exchanges (ReusedExchange
    cannot canonicalize differently-pruned children), i.e. the UDF ran
    twice when the input was not cached, plus a full-outer sort-merge
    join on the 4-part chunk key.  Here the join is a groupBy over the
    exploded side column: chunk keys are unique per side, so
    max(side-presence) flags reproduce the join's matched/unmatched
    classes exactly.  Plan: 2 exchanges (window, final cls aggregate),
    1 sort — the run/chunk-key aggregations ride the window's seq_id
    partitioning.  Identical counts pinned by the reference
    truth-table tests and the ner_entity_prf oracle row.

    For ``scheme='plain'`` the BIO view of the PREVIOUS row is derived
    in the same window from (lag, lag2) — exactly ``tags_as_bio``'s
    value for that row — so the conversion costs no second window."""
    eval_scheme = "bilou" if scheme == "bilou" else "bio"
    w = Window.partitionBy("seq_id").orderBy("pos")
    t = df.select(
        "seq_id", "pos",
        F.col("true").alias("_t"), F.col(pred_col).alias("_p"),
    )
    for side in ("t", "p"):
        col = f"_{side}"
        if scheme == "plain":
            cur = _bio_from_plain(F.col(col), F.lag(col).over(w))
            prv = _bio_from_plain(F.lag(col).over(w), F.lag(col, 2).over(w))
        else:
            cur = F.col(col)
            prv = F.lag(col).over(w)
        kind = F.when(cur == "O", F.lit("O")).otherwise(F.substring(cur, 1, 1))
        cls = F.substring_index(cur, "-", -1)
        pkind = F.when(prv == "O", F.lit("O")).otherwise(
            F.substring(prv, 1, 1)
        )
        pcls = F.substring_index(prv, "-", -1)
        continuation = (
            kind.isin("I", "L") & (pcls == cls) & pkind.isin("B", "I")
        )
        t = (
            t.withColumn(f"_k{side}", kind)
            .withColumn(f"_c{side}", cls)
            .withColumn(
                f"_r{side}",
                F.sum(
                    F.when(continuation, F.lit(0)).otherwise(F.lit(1))
                ).over(w),
            )
        )

    sides_arr = F.array(
        F.struct(
            F.lit("t").alias("side"), F.col("_kt").alias("kind"),
            F.col("_ct").alias("cls"), F.col("_rt").alias("run"),
        ),
        F.struct(
            F.lit("p").alias("side"), F.col("_kp").alias("kind"),
            F.col("_cp").alias("cls"), F.col("_rp").alias("run"),
        ),
    )
    ex = (
        t.select("seq_id", "pos", F.explode(sides_arr).alias("s"))
        .select("seq_id", "pos", "s.side", "s.kind", "s.cls", "s.run")
        .filter(F.col("kind") != "O")
    )
    runs = ex.groupBy("seq_id", "side", "run").agg(
        F.first("cls").alias("cls"),
        F.min("pos").alias("start_pos"),
        F.max("pos").alias("end_pos"),
        F.min_by("kind", "pos").alias("first_kind"),
        F.max_by("kind", "pos").alias("last_kind"),
        F.count("*").alias("size"),
    )
    if eval_scheme == "bilou":
        valid = (
            (F.col("first_kind") == "B") & (F.col("last_kind") == "L")
        ) | ((F.col("first_kind") == "U") & (F.col("size") == 1))
    else:  # bio (strict IOB2)
        valid = F.col("first_kind") == "B"
    matched = (
        runs.filter(valid)
        .groupBy("seq_id", "cls", "start_pos", "end_pos")
        .agg(
            F.max(F.when(F.col("side") == "t", 1)).alias("in_true"),
            F.max(F.when(F.col("side") == "p", 1)).alias("in_pred"),
        )
    )
    return (
        matched.groupBy("cls")
        .agg(
            F.sum(
                F.when(F.col("in_true").isNotNull() & F.col("in_pred").isNotNull(), 1)
                .otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(F.col("in_true").isNull() & F.col("in_pred").isNotNull(), 1)
                .otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(F.col("in_true").isNotNull() & F.col("in_pred").isNull(), 1)
                .otherwise(0)
            ).alias("fn"),
        )
        .withColumn("n_true", F.col("tp") + F.col("fn"))
        .withColumn("n_pred", F.col("tp") + F.col("fp"))
    )


def asr_corrected(df: DataFrame, scheme: str, pred_col: str = "pred") -> DataFrame:
    """Annotation-scheme repair of the prediction stream as window
    expressions (parity: kgkit.ner_core.schemes.fix_scheme <-
    tags.py:224-374).  Neighbour context comes from the ORIGINAL stream,
    so lag/lead suffice.  Adds ``pred_asr`` and ``asr_changed``.

    BIO: I-X with prev not in {B-X, I-X} -> B-X.
    BILOU closed form of the reference's rewrite loop:
        I: bad_prev&bad_next->U, bad_next->L, bad_prev->B
        L: bad_prev&bad_next->U, bad_prev->B
        B: bad_next->U
    """
    w = Window.partitionBy("seq_id").orderBy("pos")
    tag = F.col(pred_col)
    cls = F.substring_index(tag, "-", -1)
    kind = F.when(tag == "O", F.lit("O")).otherwise(F.substring(tag, 1, 1))
    prev = F.lag(pred_col).over(w)
    good_prev = (prev == F.concat(F.lit("B-"), cls)) | (
        prev == F.concat(F.lit("I-"), cls)
    )
    if scheme == "bio":
        fixed = F.when(
            (kind == "I") & ~F.coalesce(good_prev, F.lit(False)),
            F.concat(F.lit("B-"), cls),
        ).otherwise(tag)
    elif scheme == "bilou":
        nxt = F.lead(pred_col).over(w)
        good_next = (nxt == F.concat(F.lit("I-"), cls)) | (
            nxt == F.concat(F.lit("L-"), cls)
        )
        bad_prev = ~F.coalesce(good_prev, F.lit(False))
        bad_next = ~F.coalesce(good_next, F.lit(False))
        fixed = (
            F.when(kind == "O", tag)
            .when(kind == "U", tag)
            .when((kind == "I") & bad_prev & bad_next, F.concat(F.lit("U-"), cls))
            .when((kind == "I") & bad_next, F.concat(F.lit("L-"), cls))
            .when((kind == "I") & bad_prev, F.concat(F.lit("B-"), cls))
            .when((kind == "L") & bad_prev & bad_next, F.concat(F.lit("U-"), cls))
            .when((kind == "L") & bad_prev, F.concat(F.lit("B-"), cls))
            .when((kind == "B") & bad_next, F.concat(F.lit("U-"), cls))
            .otherwise(tag)
        )
    else:
        raise ValueError(f"asr not defined for scheme {scheme!r}")
    return df.withColumn("pred_asr", fixed).withColumn(
        "asr_changed", (F.col("pred_asr") != tag).cast("int")
    )


# ---------------------------------------------------------------------------
# driver-side arithmetic over collected counts
# ---------------------------------------------------------------------------

def _div(num: float, den: float, undefined: float) -> float:
    return num / den if den > 0 else undefined


def _f1(p: float, r: float) -> float:
    if p == FAILURE or r == FAILURE:
        return FAILURE
    return 2 * p * r / (p + r) if (p + r) > 0 else 0.0


class TokenCounts:
    """Per-label TP / pred-count / true-count from a confusion table."""

    def __init__(self, confusion_rows: Sequence[Tuple[str, str, int]]):
        self.tp: Dict[str, int] = {}
        self.n_pred: Dict[str, int] = {}
        self.n_true: Dict[str, int] = {}
        self.total = 0
        self.correct = 0
        for true, pred, n in confusion_rows:
            self.total += n
            if true == pred:
                self.correct += n
                self.tp[true] = self.tp.get(true, 0) + n
            self.n_pred[pred] = self.n_pred.get(pred, 0) + n
            self.n_true[true] = self.n_true.get(true, 0) + n

    @property
    def labels(self) -> List[str]:
        return sorted(set(self.n_pred) | set(self.n_true))

    def precision(self, c: str, undefined: float = 0.0) -> float:
        return _div(self.tp.get(c, 0), self.n_pred.get(c, 0), undefined)

    def recall(self, c: str, undefined: float = 0.0) -> float:
        return _div(self.tp.get(c, 0), self.n_true.get(c, 0), undefined)


def token_metrics_from_confusion(
    confusion_rows: Sequence[Tuple[str, str, int]],
    classes: Optional[List[str]] = None,
) -> Dict[str, float]:
    """Reference NerMetrics token-level semantics (ner_metrics.py:231-290).

    classes=None -> 'all' (sorted union of observed labels);
    len(classes)>1 -> zero_division=0; len(classes)==1 -> 'warn' (−1).
    """
    tc = TokenCounts(confusion_rows)
    labels = classes if classes is not None else tc.labels
    single = classes is not None and len(classes) == 1
    und = FAILURE if single else 0.0

    tp = sum(tc.tp.get(c, 0) for c in labels)
    np_ = sum(tc.n_pred.get(c, 0) for c in labels)
    nt = sum(tc.n_true.get(c, 0) for c in labels)
    precision_micro = _div(tp, np_, und)
    recall_micro = _div(tp, nt, und)
    f1_micro = _f1(precision_micro, recall_micro)

    per_p = [tc.precision(c, und) for c in labels]
    per_r = [tc.recall(c, und) for c in labels]
    per_f = [_f1(p, r) for p, r in zip(per_p, per_r)]
    precision_macro = _mean_or_failure(per_p)
    recall_macro = _mean_or_failure(per_r)
    f1_macro = _mean_or_failure(per_f)

    # well-defined classes: both denominators > 0, over ALL labels
    well = [
        c for c in tc.labels
        if tc.n_pred.get(c, 0) > 0 and tc.n_true.get(c, 0) > 0
    ]
    return {
        "acc": _div(tc.correct, tc.total, 0.0),
        "precision_micro": precision_micro,
        "recall_micro": recall_micro,
        "f1_micro": f1_micro,
        "precision_macro": precision_macro,
        "recall_macro": recall_macro,
        "f1_macro": f1_macro,
        "numberofclasses_macro": max(len(well) - 1, 0),  # disregard 'O'
    }


def _mean_or_failure(values: List[float]) -> float:
    if not values:
        return 0.0
    if any(v == FAILURE for v in values):
        return FAILURE
    return sum(values) / len(values)


def entity_metrics_from_counts(
    count_rows: Sequence[Tuple[str, int, int, int]],
    class_name: Optional[str] = None,
) -> Dict[str, float]:
    """Reference NerMetrics entity-level semantics
    (ner_metrics.py:292-357, 444-537) from (cls, tp, fp, fn) rows.

    class_name=None -> 'fil' micro/macro over all chunk classes;
    class_name=c -> per-class ('ind') with −1 failure codes.
    """
    counts = {c: (tp, fp, fn) for c, tp, fp, fn in count_rows}
    classes = sorted(counts)

    if class_name is not None:
        if class_name not in counts:  # seqeval IndexError path -> −1
            return {
                "precision_micro": FAILURE,
                "recall_micro": FAILURE,
                "f1_micro": FAILURE,
            }
        tp, fp, fn = counts[class_name]
        p = _div(tp, tp + fp, FAILURE)
        r = _div(tp, tp + fn, FAILURE)
        return {"precision_micro": p, "recall_micro": r, "f1_micro": _f1(p, r)}

    tp = sum(v[0] for v in counts.values())
    fp = sum(v[1] for v in counts.values())
    fn = sum(v[2] for v in counts.values())
    precision_micro = _div(tp, tp + fp, FAILURE)
    recall_micro = _div(tp, tp + fn, FAILURE)
    f1_micro = _f1(precision_micro, recall_micro)

    per = {
        c: (
            _div(v[0], v[0] + v[1], 0.0),
            _div(v[0], v[0] + v[2], 0.0),
        )
        for c, v in counts.items()
    }
    precision_macro = _mean_or_failure([p for p, _ in per.values()])
    recall_macro = _mean_or_failure([r for _, r in per.values()])
    f1_macro = _mean_or_failure([_f1(p, r) for p, r in per.values()])

    well = [c for c in classes if counts[c][0] + counts[c][1] > 0
            and counts[c][0] + counts[c][2] > 0]
    return {
        "precision_micro": precision_micro,
        "recall_micro": recall_micro,
        "f1_micro": f1_micro,
        "precision_macro": precision_macro,
        "recall_macro": recall_macro,
        "f1_macro": f1_macro,
        "numberofclasses_macro": len(well),
    }


# ---------------------------------------------------------------------------
# top-level API (Model._evaluate parity, api/model.py:863-968)
# ---------------------------------------------------------------------------

def ner_metrics(
    df: DataFrame,
    level: str,
    scheme: str,
    classes: Optional[List[str]] = None,
    class_name: Optional[str] = None,
    asr: bool = False,
) -> Dict[str, float]:
    """Compute the reference's NerMetrics result dict over a Spark token
    stream (seq_id, pos, true, pred)."""
    assert level in ("token", "entity"), f"level {level!r} unknown"
    if level == "token":
        rows = [
            (r["true"], r["pred"], r["n"])
            for r in token_confusion(df).collect()
        ]
        return token_metrics_from_confusion(rows, classes)

    result: Dict[str, float] = {}
    rows = [
        (r["cls"], r["tp"], r["fp"], r["fn"])
        for r in entity_class_counts(df, scheme).collect()
    ]
    result.update(entity_metrics_from_counts(rows, class_name))
    if asr:
        eval_scheme = "bilou" if scheme == "bilou" else "bio"
        bio = tags_as_bio(
            tags_as_bio(df, "true", scheme), "pred", scheme
        )
        corrected = asr_corrected(bio, eval_scheme)
        abidance = corrected.agg(
            (1 - F.avg("asr_changed")).alias("a")
        ).collect()[0]["a"]
        asr_rows = [
            (r["cls"], r["tp"], r["fp"], r["fn"])
            for r in entity_class_counts(
                corrected, eval_scheme, pred_col="pred_asr"
            ).collect()
        ]
        asr_res = entity_metrics_from_counts(asr_rows)
        result["asr_abidance"] = float(abidance if abidance is not None else 1.0)
        result["asr_precision_micro"] = asr_res["precision_micro"]
        result["asr_recall_micro"] = asr_res["recall_micro"]
        result["asr_f1_micro"] = asr_res["f1_micro"]
    return result


def metrics_fanout(
    df: DataFrame,
    scheme: str,
    classes: Optional[List[str]] = None,
) -> Dict[str, Dict[str, Dict[str, float]]]:
    """A9 per-subset metric fan-out (ner_model_evaluation.py:301-396):
    [level][subset] -> metrics for subsets 'all' (token only), 'fil'
    (non-O classes) and each individual class.

    ONE distributed pass per level — the reference loops NerMetrics per
    subset over the same arrays; here every subset is derived from the
    single collected confusion / chunk-count table (SURVEY §2.8 A9)."""
    conf = [
        (r["true"], r["pred"], r["n"]) for r in token_confusion(df).collect()
    ]
    if classes is None:
        classes = sorted(
            {c for t, p, _ in conf for c in (t, p) if c != "O"}
        )
    token: Dict[str, Dict[str, float]] = {
        "all": token_metrics_from_confusion(conf),
        "fil": token_metrics_from_confusion(conf, classes),
    }
    for c in classes:
        token[c] = token_metrics_from_confusion(conf, [c])

    counts = [
        (r["cls"], r["tp"], r["fp"], r["fn"])
        for r in entity_class_counts(df, scheme).collect()
    ]
    plain_classes = sorted({c.split("-")[-1] for c in classes})
    entity: Dict[str, Dict[str, float]] = {
        "fil": entity_metrics_from_counts(counts)
    }
    for c in plain_classes:
        entity[c] = entity_metrics_from_counts(counts, c)

    return {"token": token, "entity": entity}


def metrics_fanout_df(df: DataFrame, scheme: str = "bio") -> DataFrame:
    """A9 as ONE distributed plan: (level, subset, precision_micro,
    recall_micro, f1_micro, precision_macro, recall_macro, f1_macro)
    rows for token subsets all / fil / <label> and entity subsets
    fil / <plain class> — the DataFrame twin of ``metrics_fanout``
    (which assembles the reference's nested-dict shape from collected
    statistics).  Nothing is collected here: the subset fan-out
    operates on the post-aggregation confusion / chunk frames
    (≤ |labels| rows), so it is plan-side fan-out of tiny data, not
    extra passes over the token stream.  Failure-code semantics
    (−1 sentinels) follow token_metrics_from_confusion /
    entity_metrics_from_counts exactly; macro semantics likewise:
    a subset's macro is the per-class mean under that subset's
    zero-division rule (so a single-class subset has macro == micro,
    with −1 propagated), and entity per-class ('ind') rows carry NULL
    macro because the reference's per-class dict has no macro keys.

    The input stream is cached for the two statistic jobs (both
    lineages reach the word-level UDF source; the upstream lambda plans
    defeat ReusedExchange canonicalization) and released
    in a ``finally`` once they are collected; the tiny result is
    materialized eagerly (localCheckpoint)."""
    from pyspark import StorageLevel

    def _raw_prf(tp, np_, nt, und):
        p = F.when(np_ > 0, tp / np_).otherwise(und)
        r = F.when(nt > 0, tp / nt).otherwise(und)
        f = (
            F.when((p == FAILURE) | (r == FAILURE), F.lit(FAILURE))
            .when(p + r > 0, F.lit(2) * p * r / (p + r))
            .otherwise(F.lit(0.0))
        )
        return p, r, f

    def _prf(tp, np_, nt, und):
        p, r, f = _raw_prf(tp, np_, nt, und)
        return [
            F.round(p, 6).alias("precision_micro"),
            F.round(r, 6).alias("recall_micro"),
            F.round(f, 6).alias("f1_micro"),
        ]

    def _macro(pm, rm, fm):
        return [
            F.round(pm, 6).alias("precision_macro"),
            F.round(rm, 6).alias("recall_macro"),
            F.round(fm, 6).alias("f1_macro"),
        ]

    # The fan-out arithmetic below operates on the two SUFFICIENT
    # STATISTICS — the token confusion (<= |labels|^2 rows) and the
    # chunk-class counts (<= |classes| rows).  Distributed, the union's
    # branches cost ~15 tiny exchange stages; instead the two
    # aggregates are collected (bounded by the label set — the module
    # docstring's driver-arithmetic budget, scale-independent) and
    # re-injected as JVM LocalRelations, so every expression below
    # runs UNCHANGED (bit-identical doubles — no arithmetic moved to
    # python) over local tables: the whole fan-out collapses to two
    # aggregation jobs plus local evaluation (guide §1.2).  The two
    # statistic jobs are independent consumers of the populated cache,
    # so they run CONCURRENTLY (guide §2.6 — the smaller job back-fills
    # the larger one's straggler tail instead of waiting for it); each
    # thread inherits the caller's local properties and tags, so both
    # jobs run in the caller's job group (cancellable with it).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from kgkit.sources.localrel import values_df

    spark = df.sparkSession
    inherit = inheritable_thread_target(spark)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        df.count()  # materialize BEFORE the two statistic jobs: tasks
        # racing an unpopulated cache would each recompute the UDF
        # partitions they beat the cache to
        with ThreadPoolExecutor(max_workers=2) as pool:
            conf_fut = pool.submit(
                inherit(lambda: token_confusion(df).collect()))
            counts_fut = pool.submit(
                inherit(lambda: entity_class_counts(df, scheme).collect()))
            conf_rows = conf_fut.result()
            counts_rows = counts_fut.result()
    finally:
        df.unpersist()
    conf = values_df(
        spark,
        [(r["true"], r["pred"], r["n"]) for r in conf_rows],
        "true string, pred string, n bigint",
    )
    n_pred = conf.groupBy(F.col("pred").alias("l")).agg(F.sum("n").alias("n_pred"))
    n_true = conf.groupBy(F.col("true").alias("l")).agg(F.sum("n").alias("n_true"))
    tp = (
        conf.filter(F.col("true") == F.col("pred"))
        .groupBy(F.col("true").alias("l"))
        .agg(F.sum("n").alias("tp"))
    )
    ls = (
        n_pred.join(n_true, "l", "full")
        .join(tp, "l", "left")
        .na.fill({"n_pred": 0, "n_true": 0, "tp": 0})
    )
    # per-class token values under zero_division 0.0, plus undefinedness
    # flags — the macro for a subset is the mean of these, EXCEPT a
    # single-class subset where an undefined denominator means −1
    # (token_metrics_from_confusion's classes=[c] rule)
    p0, r0, f0 = _raw_prf(
        F.col("tp"), F.col("n_pred"), F.col("n_true"), F.lit(0.0)
    )
    ls = ls.withColumn("p0", p0).withColumn("r0", r0).withColumn("f0", f0) \
        .withColumn("pund", F.when(F.col("n_pred") == 0, 1).otherwise(0)) \
        .withColumn("rund", F.when(F.col("n_true") == 0, 1).otherwise(0))
    fil = ls.filter(F.col("l") != "O")

    # subset 'all': classes=None -> zero_division 0.0 unconditionally;
    # subset 'fil': an explicit class list -> −1 only if it has ONE label
    tok_all = ls.agg(
        F.sum("tp").alias("tp"), F.sum("n_pred").alias("np_"),
        F.sum("n_true").alias("nt"),
        F.avg("p0").alias("ap"), F.avg("r0").alias("ar"),
        F.avg("f0").alias("af"),
    ).select(
        F.lit("token").alias("level"), F.lit("all").alias("subset"),
        *_prf(F.col("tp"), F.col("np_"), F.col("nt"), F.lit(0.0)),
        *_macro(F.coalesce(F.col("ap"), F.lit(0.0)),
                F.coalesce(F.col("ar"), F.lit(0.0)),
                F.coalesce(F.col("af"), F.lit(0.0))),
    )
    tok_fil_agg = fil.agg(
        F.sum("tp").alias("tp"), F.sum("n_pred").alias("np_"),
        F.sum("n_true").alias("nt"), F.count("*").alias("nl"),
        F.avg("p0").alias("ap"), F.avg("r0").alias("ar"),
        F.avg("f0").alias("af"),
        F.max("pund").alias("pu"), F.max("rund").alias("ru"),
    )
    one = F.col("nl") == 1
    tok_fil = tok_fil_agg.select(
        F.lit("token").alias("level"), F.lit("fil").alias("subset"),
        *_prf(F.col("tp"), F.col("np_"), F.col("nt"),
              F.when(one, F.lit(FAILURE)).otherwise(F.lit(0.0))),
        *_macro(
            F.when(one & (F.col("pu") == 1), F.lit(FAILURE))
            .otherwise(F.coalesce(F.col("ap"), F.lit(0.0))),
            F.when(one & (F.col("ru") == 1), F.lit(FAILURE))
            .otherwise(F.coalesce(F.col("ar"), F.lit(0.0))),
            F.when(one & ((F.col("pu") == 1) | (F.col("ru") == 1)),
                   F.lit(FAILURE))
            .otherwise(F.coalesce(F.col("af"), F.lit(0.0))),
        ),
    )
    # single-class subsets: macro == micro by definition (mean of one)
    pc, rc, fc = _raw_prf(
        F.col("tp"), F.col("n_pred"), F.col("n_true"), F.lit(FAILURE)
    )
    tok_cls = fil.select(
        F.lit("token").alias("level"), F.col("l").alias("subset"),
        *_prf(F.col("tp"), F.col("n_pred"), F.col("n_true"), F.lit(FAILURE)),
        *_macro(pc, rc, fc),
    )

    counts = values_df(
        spark,
        [(r["cls"], r["tp"], r["fp"], r["fn"], r["n_true"], r["n_pred"])
         for r in counts_rows],
        "cls string, tp bigint, fp bigint, fn bigint, "
        "n_true bigint, n_pred bigint",
    )
    ep0, er0, ef0 = _raw_prf(
        F.col("tp"), F.col("tp") + F.col("fp"), F.col("tp") + F.col("fn"),
        F.lit(0.0),
    )
    ent_fil = counts.withColumn("ep0", ep0).withColumn("er0", er0) \
        .withColumn("ef0", ef0).agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        F.avg("ep0").alias("ap"), F.avg("er0").alias("ar"),
        F.avg("ef0").alias("af"),
    ).select(
        F.lit("entity").alias("level"), F.lit("fil").alias("subset"),
        *_prf(F.col("tp"), F.col("tp") + F.col("fp"),
              F.col("tp") + F.col("fn"), F.lit(FAILURE)),
        *_macro(F.coalesce(F.col("ap"), F.lit(0.0)),
                F.coalesce(F.col("ar"), F.lit(0.0)),
                F.coalesce(F.col("af"), F.lit(0.0))),
    )
    # per-class entity rows exist for every plain class the TOKEN labels
    # mention, with −1 rows for classes absent from the chunk counts
    # (the reference's seqeval IndexError path); NO macro — the
    # reference's per-class entity dict carries only micro keys
    plain = fil.select(
        F.regexp_replace("l", "^[BILU]-", "").alias("subset")
    ).distinct()
    null_d = F.lit(None).cast("double")
    ent_cls = plain.join(
        counts.withColumnRenamed("cls", "subset"), "subset", "left"
    ).select(
        F.lit("entity").alias("level"), "subset",
        *_prf(F.col("tp"),
              F.when(F.col("tp").isNotNull(), F.col("tp") + F.col("fp")),
              F.when(F.col("tp").isNotNull(), F.col("tp") + F.col("fn")),
              F.lit(FAILURE)),
        null_d.alias("precision_macro"), null_d.alias("recall_macro"),
        null_d.alias("f1_macro"),
    )
    out = tok_all.unionByName(tok_fil).unionByName(tok_cls) \
        .unionByName(ent_fil).unionByName(ent_cls)
    # the result is ≤ 3 + |labels| + |classes| rows: materialize it
    # eagerly, so downstream actions do not re-plan the union
    return out.localCheckpoint()
