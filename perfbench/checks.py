"""Output checks, independent of the code under test.

Each check takes the program's output (read back from disk as pandas /
numpy) plus the generated inputs or ground truth, and returns a list of
problems — empty when the output is correct. The references come from
DuckDB, numpy and the generator's planted ground truth, never from
``thundercats_spark``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# etl_star: DuckDB recomputes the rollup, the ranking and the upsert
# --------------------------------------------------------------------------

ETL_ROLLUP_SQL = """
WITH j AS (
  SELECT c.region, p.category, f.day, f.qty, f.price
  FROM read_parquet('{d}/fact.parquet') f
  JOIN read_parquet('{d}/product.parquet') p USING (prod_id)
  JOIN read_parquet('{d}/store.parquet') s USING (store_id)
  JOIN read_parquet('{d}/customer.parquet') c USING (cust_id)
), g AS (
  SELECT region, category, day, sum(qty * price) AS revenue,
         sum(qty) AS units, count(*) AS n_sales
  FROM j GROUP BY region, category, day
)
SELECT *, row_number() OVER (PARTITION BY day
                             ORDER BY revenue DESC, region, category) AS rnk
FROM g
"""

# the upsert keeps the first version of a re-sent key and appends only
# the batch's new keys
ETL_SINK_SQL = """
SELECT * FROM read_parquet('{d}/fact.parquet')
UNION ALL
SELECT * FROM read_parquet('{d}/fact_batch.parquet')
WHERE sale_id NOT IN (SELECT sale_id FROM read_parquet('{d}/fact.parquet'))
ORDER BY sale_id
"""
SINK_COLS = ["sale_id", "cust_id", "prod_id", "store_id", "day", "qty",
             "price"]


def etl_reference(inputs: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    import duckdb

    con = duckdb.connect()
    try:
        rollup = con.execute(ETL_ROLLUP_SQL.format(d=inputs)).df()
        sink = con.execute(ETL_SINK_SQL.format(d=inputs)).df()
    finally:
        con.close()
    return rollup, sink[SINK_COLS].reset_index(drop=True)


def check_etl(rollup: pd.DataFrame, sink: pd.DataFrame,
              ref_rollup: pd.DataFrame, ref_sink: pd.DataFrame) -> list[str]:
    bad = []
    key = ["region", "category", "day"]
    got = rollup.assign(day=rollup["day"].astype(int)).sort_values(key)
    want = ref_rollup.assign(day=ref_rollup["day"].astype(int)).sort_values(key)
    if len(got) != len(want):
        bad.append(f"rollup rows {len(got)} != {len(want)}")
    else:
        got, want = got.reset_index(drop=True), want.reset_index(drop=True)
        if not (got[key] == want[key]).all().all():
            bad.append("rollup group keys differ")
        elif not np.allclose(got["revenue"], want["revenue"], rtol=1e-9):
            bad.append("rollup revenue differs")
        elif not ((got["units"] == want["units"]).all()
                  and (got["n_sales"] == want["n_sales"]).all()):
            bad.append("rollup counts differ")
        elif not (got["rnk"] == want["rnk"]).all():
            bad.append("per-day revenue ranking differs")
    got = sink[SINK_COLS].sort_values("sale_id", kind="stable")
    ids = got["sale_id"].to_numpy()
    if len(ids) != len(np.unique(ids)):
        bad.append("upsert sink holds duplicate keys")
    elif len(got) != len(ref_sink):
        bad.append(f"upsert sink rows {len(got)} != {len(ref_sink)}")
    elif not np.array_equal(ids, ref_sink["sale_id"].to_numpy()):
        bad.append("upsert sink keys differ")
    else:
        got = got.reset_index(drop=True)
        for col in SINK_COLS[1:]:
            if not np.array_equal(got[col].to_numpy(),
                                  ref_sink[col].to_numpy()):
                bad.append(f"upsert sink column {col} differs")
                break
    return bad


# --------------------------------------------------------------------------
# llm_curation: dedup and decontamination against the planted truth
# --------------------------------------------------------------------------


def dedup_scores(dropped: set[int],
                 clusters: list[list[int]]) -> tuple[float, float]:
    """Recall: share of the planted redundant copies (size - 1 per
    cluster) that dedup removed. Precision: share of removed docs that
    were such copies (removing a whole cluster wrongly drops one)."""
    need = sum(len(c) - 1 for c in clusters)
    good = sum(min(len(c) - 1, len(dropped.intersection(c)))
               for c in clusters)
    recall = good / need if need else 1.0
    precision = good / len(dropped) if dropped else 1.0
    return recall, precision


def check_curation(all_ids: set[int], after_dedup: set[int],
                   final_ids: set[int], truth: dict,
                   min_recall: float = 0.9,
                   min_precision: float = 0.98) -> tuple[list[str], dict]:
    bad = []
    recall, precision = dedup_scores(all_ids - after_dedup, truth["clusters"])
    if recall < min_recall:
        bad.append(f"dedup recall {recall:.3f} < {min_recall}")
    if precision < min_precision:
        bad.append(f"dedup precision {precision:.3f} < {min_precision}")
    for c in truth["clusters"]:
        if not any(d in after_dedup for d in c):
            bad.append(f"planted cluster {c[:3]}... lost every member")
            break
    contam = set(truth["contaminated"]) & after_dedup
    removed = after_dedup - final_ids
    if removed != contam:
        bad.append(f"decontamination removed {len(removed)} docs, "
                   f"{len(removed & contam)} of {len(contam)} planted")
    return bad, {"dedup_recall": recall, "dedup_precision": precision}


def check_packing(df: pd.DataFrame, budget: int) -> list[str]:
    """Concat-and-chunk packing: within each pack group, in doc_id
    order, a doc belongs to the sequence where its start offset lands."""
    bad = []
    for _, g in df.sort_values(["pack_group", "doc_id"]).groupby("pack_group"):
        start = g["n_tokens"].cumsum() - g["n_tokens"]
        if not ((start // budget).to_numpy() == g["pack_seq"].to_numpy()).all():
            bad.append("pack_seq does not match the running token offset")
            break
    return bad


def check_bpe(texts: list[str], tokens: list[list[str]], eow: str) -> list[str]:
    """BPE segmentation is lossless: each doc's tokens concatenate back
    to its words, each closed by the end-of-word marker."""
    for t, toks in zip(texts, tokens):
        want = "".join(w + eow for w in t.split())
        if "".join(toks) != want:
            return ["bpe tokens do not reassemble the document"]
    return []


# --------------------------------------------------------------------------
# ann_serving: numpy brute force
# --------------------------------------------------------------------------


def _cos(base: np.ndarray, q: np.ndarray) -> np.ndarray:
    bn = base / np.linalg.norm(base, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    return np.round(qn @ bn.T, 6)


def brute_topk(base: np.ndarray, ids: np.ndarray, q: np.ndarray,
               k: int) -> np.ndarray:
    """Exact cosine top-k ids per query, ordered by (cos rounded to 6
    digits desc, id asc) like the serving contract."""
    return np.array([ids[np.lexsort((ids, -row))[:k]]
                     for row in _cos(base, q)])


def check_ann_exact(got: dict[int, list[int]], base: np.ndarray,
                    ids: np.ndarray, q: np.ndarray, q_ids: list[int],
                    k: int, tol: float = 2e-6) -> list[str]:
    """At nprobe = every cell the index must return the brute-force
    top-k: k distinct ids whose true scores equal the brute-force
    scores rank by rank (ids of equal-within-rounding score may swap)."""
    cos = _cos(base, q)
    pos = {int(v): i for i, v in enumerate(ids)}
    for qi, qid in enumerate(q_ids):
        want = np.sort(cos[qi])[::-1][:k]
        rows = got.get(qid, [])
        if len(rows) != k or len(set(rows)) != k:
            return [f"query {qid}: {len(rows)} results, want {k} distinct"]
        if any(r not in pos for r in rows):
            return [f"query {qid}: returned an id not in the index"]
        have = cos[qi][[pos[r] for r in rows]]
        if not np.allclose(have, want, atol=tol):
            return [f"query {qid}: top-k differs from brute force"]
    return []


def recall_at_k(got_ids: list[list[int]], want_ids: np.ndarray) -> float:
    hit = sum(len(set(g) & set(w)) for g, w in zip(got_ids, want_ids))
    return hit / max(1, sum(len(w) for w in want_ids))


# --------------------------------------------------------------------------
# stream_ingest: batch recompute of the landed files
# --------------------------------------------------------------------------


def check_rollup(rollup: pd.DataFrame, events: pd.DataFrame) -> list[str]:
    want = (events.groupby(["day", "kind"])
            .agg(n=("value", "size"), total=("value", "sum"),
                 vmax=("value", "max"))
            .reset_index())
    got = rollup.assign(day=rollup["day"].astype(int))
    want = want.assign(day=want["day"].astype(int))
    m = want.merge(got, on=["day", "kind"], how="outer",
                   suffixes=("_w", "_g"), indicator=True)
    if not (m["_merge"] == "both").all():
        return ["rollup groups differ from the landed events"]
    if not (m["n_w"] == m["n_g"]).all():
        return ["rollup counts differ from the landed events"]
    if not (np.allclose(m["total_w"], m["total_g"], rtol=1e-9)
            and np.allclose(m["vmax_w"], m["vmax_g"])):
        return ["rollup sums differ from the landed events"]
    return []
