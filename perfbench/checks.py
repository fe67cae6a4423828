"""Output checks for one benchmark run, computed apart from Spark.

Entries with an oracle are compared with DuckDB running the entry's
`SparkEntry.oracleSql` over the same parquet, under the rules of the
engine's `tools/check.py`: columns sorted by name, no DECIMAL or tz-aware
output columns, identical pandas dtypes, identical row counts and exactly
equal values row by row.

Entries in PROPERTIES are instead checked against a property that numpy
computes from the inputs: the entries without an oracle, and
dedup_containment, whose unpruned recomputation is the stricter check (see
there). Each check returns (key, ok, message).
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pyarrow.types as pat

TABLES = ["region", "nation", "supplier", "customer", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    return con


def norm(df):
    return df[sorted(df.columns)].reset_index(drop=True)


def read_output(con, qdir):
    return norm(con.execute(
        f"SELECT * FROM read_parquet('{qdir}/*.parquet')").df())


def forbidden_types(qdir):
    for f in sorted(glob.glob(os.path.join(qdir, "*.parquet"))):
        return [(fl.name, str(fl.type)) for fl in pq.read_schema(f)
                if pat.is_decimal(fl.type)
                or (pat.is_timestamp(fl.type) and fl.type.tz is not None)]
    return []


def frames_equal(got, exp):
    """(ok, message) for two normalized frames under the exact-compare rules."""
    if list(got.columns) != list(exp.columns):
        return False, f"columns {list(got.columns)} != {list(exp.columns)}"
    tz = [c for df in (got, exp) for c in df.columns
          if isinstance(df[c].dtype, pd.DatetimeTZDtype)]
    if tz:
        return False, f"tz-aware column(s) {tz}"
    drift = [(c, str(got[c].dtype), str(exp[c].dtype))
             for c in got.columns if str(got[c].dtype) != str(exp[c].dtype)]
    if drift:
        return False, f"dtype drift {drift}"
    if len(got) != len(exp):
        return False, f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        neq = ~((a == b) | (a.isna() & b.isna()))
        if neq.any():
            i = int(neq.idxmax())
            return False, f"col {c} row {i}: spark={a[i]!r} oracle={b[i]!r}"
    return True, f"{len(got)} rows equal"


def oracle_check(con, qdir, sql):
    bad = forbidden_types(qdir)
    if bad:
        return False, f"forbidden output type(s) {bad}"
    return frames_equal(read_output(con, qdir), norm(con.execute(sql).df()))


# ---------------------------------------------------------------- properties
# Each takes (con, output frame) and returns (ok, message).

_POP15 = np.array([bin(i).count("1") for i in range(1 << 15)], dtype=np.int64)


def _popcount(m):
    return _POP15[m & 0x7FFF] + _POP15[(m >> 15) & 0x7FFF] + \
        _POP15[(m >> 30) & 0x7FFF] + _POP15[(m >> 45) & 0x7FFF]


def containment_unpruned(con, got):
    """dedup_containment recomputed over every same-language pair, with no
    length prune. The oracle SQL mirrors the engine's implied-length prune,
    so an unsound prune would pass the oracle compare; it cannot pass this.
    Token sets become bitmasks over the corpus vocabulary (numpy), which
    also keeps the pairwise pass to about a second at sf0.1."""
    docs = con.execute("SELECT doc_id, lang, text FROM documents ORDER BY doc_id").df()
    vocab = {}
    masks = np.zeros(len(docs), dtype=np.int64)
    for i, text in enumerate(docs["text"]):
        for w in set(text.split(" ")):
            masks[i] |= 1 << vocab.setdefault(w, len(vocab))
    if len(vocab) > 60:
        return False, f"vocabulary of {len(vocab)} words exceeds the bitmask check"
    n = _popcount(masks)
    sup = np.zeros(len(docs), dtype=np.int64)
    cont = np.zeros(len(docs), dtype=np.int64)
    for lang in docs["lang"].unique():
        idx = np.flatnonzero(docs["lang"].to_numpy() == lang)
        inter = _popcount(masks[idx][:, None] & masks[idx][None, :])
        np.fill_diagonal(inter, -1)  # b <> a
        na = n[idx][:, None]
        sup[idx] = (inter == na).sum(axis=1)
        cont[idx] = (inter * 1.0 / na >= 0.95).sum(axis=1)
    exp = norm(pd.DataFrame({"doc_id": docs["doc_id"].astype("int64"),
                             "n_supersets": sup, "n_containers": cont}))
    return frames_equal(got, exp)


def _embeddings(con):
    df = con.execute("SELECT vec_id, label, embedding FROM embeddings "
                     "ORDER BY vec_id").df()
    x = np.stack(df["embedding"].to_numpy()).astype(np.float64)
    return df["vec_id"].to_numpy(), df["label"].to_numpy(), x


def _cosine(x, q):
    return (x @ q) / (np.linalg.norm(x, axis=1) * np.linalg.norm(q))


def ivf_knn(con, got, query=0, nprobe=3, k=10):
    """IVF top-k for vec_id 0: the probed cells are the `nprobe` labels whose
    mean vector is most cosine-similar to the query; the result must be the
    brute-force cosine top-k inside those cells (ids recall >= 0.9, each
    reported sim within rounding of the exact cosine). Recall against the
    global brute-force top-k is reported alongside."""
    ids, labels, x = _embeddings(con)
    q = x[ids == query][0]
    cells = sorted(set(labels.tolist()))
    cent = np.stack([x[labels == c].mean(axis=0) for c in cells])
    csim = _cosine(cent, q)
    probed = {c for _, c in sorted(zip(-csim, cells))[:nprobe]}
    sim = _cosine(x, q)
    rest = ids != query

    def top(mask):
        order = sorted(zip(-np.round(sim[mask], 4), ids[mask]))[:k]
        return {int(i) for _, i in order}

    expect = top(rest & np.isin(labels, list(probed)))
    brute = top(rest)
    got_ids = {int(i) for i in got["vec_id"]}
    exact = dict(zip(ids.tolist(), sim.tolist()))
    off = [int(i) for i, s in zip(got["vec_id"], got["sim"]) if abs(exact[int(i)] - s) > 1.5e-4]
    recall = len(got_ids & expect) / k
    ok = len(got) == k and not off and recall >= 0.9
    return ok, (f"in-cell recall {recall:.2f}, global recall "
                f"{len(got_ids & brute) / k:.2f}, sim off for {off}")


# checks that stand in for (or, where the oracle is cheap, add to) the
# oracle compare: dedup_containment's DuckDB oracle, a list_intersect over
# every pruned same-language pair, ran for over three minutes at sf0.1 on
# 4 cores, longer than a whole run
PROPERTIES = {"vec_ivf_knn": ivf_knn, "dedup_containment": containment_unpruned}


def check_all(sf_dir, check_dir, entries, written, oracle):
    con = connect(sf_dir)
    report = []
    for key in entries:
        qdir = os.path.join(check_dir, key)
        if key not in written:
            continue  # the harness counted it as failed
        try:
            if key in PROPERTIES:
                ok, msg = PROPERTIES[key](con, read_output(con, qdir))
            elif key in oracle:
                ok, msg = oracle_check(con, qdir, oracle[key])
            else:
                ok, msg = False, "no oracle and no property check"
        except Exception as e:  # noqa: BLE001 - report, never crash the run
            ok, msg = False, f"check raised {e!r}"
        report.append((key, ok, msg))
    return report
