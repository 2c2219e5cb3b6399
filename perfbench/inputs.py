"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size, so the same
``--seed`` always yields byte-identical inputs. Inputs are written as
parquet inside the run's work directory; nothing outside the checkout is
read.

* :func:`write_tables` builds the TPC-H-shaped star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables the registry queries
  and their DuckDB oracles read (the schemas of FIXTURES.md section C).
* :func:`write_sequences` writes the engine's native ``sequences`` and
  ``states`` tables with the package's own seeded fixture generators.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _write(path: str, cols: dict[str, pa.Array]) -> tuple[int, int]:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows, os.path.getsize(path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: np.datetime64, n_days: int, n: int) -> pa.Array:
    d = start + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _texts(rng, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos : pos + k]))
        pos += k
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict:
    """Write the ten registry tables at scale factor ``sf`` and return the
    input size record {rows, bytes, files}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = lambda k: np.random.default_rng([seed, k])  # noqa: E731
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = min(n_docs, 2000)
    tables: dict[str, dict[str, pa.Array]] = {}

    tables["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }
    tables["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    r = rng(1)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(segs[r.integers(0, 5, n_cust)]),
    }
    r = rng(2)
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    }
    r = rng(3)
    adj = np.array("small new blue old large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n_part, dtype=np.int64)
    tables["part"] = {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(
            np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                        noun[r.integers(0, 8, n_part)])
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": pa.array(ptypes[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)),
    }
    r = rng(4)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(r, _EPOCH_1995, 2405, n_ord),
        "o_orderpriority": pa.array(prio[r.integers(0, 5, n_ord)]),
    }
    r = rng(5)
    tables["lineitem"] = {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
        "l_shipdate": _days(r, _EPOCH_1995 + np.timedelta64(1, "D"), 2499, n_li),
    }
    r = rng(6)
    ts = np.sort(r.integers(0, 30 * _DAY_US, n_ev))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array((_EPOCH_2024 + ts.astype("timedelta64[us]")), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(etypes[r.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
    }
    r = rng(7)
    texts = _texts(r, n_docs)
    # 5% of documents repeat an earlier-generated text plus one word (the
    # registry's near-duplicate signal), a few repeat one verbatim
    for i in np.flatnonzero(r.random(n_docs) < 0.05):
        texts[i] = texts[int(r.integers(0, n_docs))] + " dup"
    for i in r.integers(0, n_docs, max(1, n_docs // 600)):
        texts[i] = texts[int(r.integers(0, n_docs))]
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    r = rng(8)
    vec = r.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb).astype(np.int32)),
    }

    rows = nbytes = 0
    for name, cols in tables.items():
        n, b = _write(os.path.join(out_dir, f"{name}.parquet"), cols)
        rows += n
        nbytes += b
    return {"rows": rows, "bytes": nbytes, "files": len(tables)}


def write_sequences(out_dir: str, target_rows: int, seed: int, n_files: int) -> dict:
    """Write ``sequences`` and ``states`` with the package's seeded fixture
    generators: as many entities as it takes to reach ``target_rows``
    rows, so the work per operation is the same for every seed while the
    rows-per-entity skew varies. ``fixtures._doc_rows`` is the per-entity
    unit that ``sequences_spark``/``sequences_pandas`` are built from, so
    the table equals ``sequences_spark(n_docs, seed)``."""
    import pandas as pd

    from combinedfeatureextraction_spark.sources import fixtures

    docs, rows = [], 0
    while rows < target_rows:
        docs.append(fixtures._doc_rows(seed, len(docs)))
        rows += len(docs[-1])
    seqs = pd.concat(docs, ignore_index=True)
    seqs["ts"] = seqs["ts"].dt.tz_localize("UTC")
    states = fixtures.states_pandas(seed)
    states["effective_ts"] = states["effective_ts"].dt.tz_localize("UTC")
    utc = pa.timestamp("us", tz="UTC")
    types = {"doc_id": pa.string(), "seq_idx": pa.int32(), "ts": utc,
             "tokens": pa.list_(pa.int32()), "n_tok": pa.int32(),
             "source": pa.string()}
    seq_dir = os.path.join(out_dir, "sequences")
    os.makedirs(seq_dir)
    nbytes = 0
    bounds = np.linspace(0, len(seqs), n_files + 1).astype(int)
    for k in range(n_files):
        part = seqs.iloc[bounds[k] : bounds[k + 1]]
        nbytes += _write(
            os.path.join(seq_dir, f"part-{k:05d}.parquet"),
            {c: pa.Array.from_pandas(part[c], type=t) for c, t in types.items()},
        )[1]
    nbytes += _write(os.path.join(out_dir, "states.parquet"), {
        "source": pa.array(states["source"]),
        "effective_ts": pa.Array.from_pandas(states["effective_ts"], type=utc),
        "state_val": pa.array(states["state_val"]),
    })[1]
    return {"rows": len(seqs), "bytes": nbytes, "files": n_files + 1,
            "docs": len(docs)}


#: stopwords that identify each language under ``functions.text.lang_id``
#: (each word belongs to one language's probe set only)
_CORPUS_STOPWORDS = {
    "de": ("der", "die", "und", "das", "nicht"),
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "de", "que", "y"),
    "fr": ("le", "et", "les", "des"),
}


def write_corpus(out_dir: str, n_docs: int, seed: int) -> dict:
    """Write a ``documents`` table of ``n_docs`` generated docs with planted
    duplicates for ``plans.curation.curate_corpus`` and return the input
    size record plus the planted ground truth.

    Every doc draws 30-80 words from its language: about a third are that
    language's stopwords, the rest pseudo-words from a seeded vocabulary,
    so unrelated docs share no word 3-gram. Planted on top, with ids
    shuffled so that any member of a group may hold its minimum id:

    * duplicate groups: a doc plus 1-3 copies, each either verbatim (an
      exact duplicate) or with one word replaced (a near-duplicate, word
      3-gram Jaccard >= 0.8 against its source);
    * short docs of 3-6 words, below the default 8-token floor.

    ``expected`` is the set of ids curation must keep: every doc outside a
    group that is not short, and the minimum id of every group."""
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.default_rng([seed, 11])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    stop = {w for ws in _CORPUS_STOPWORDS.values() for w in ws}
    vocab = sorted({
        "".join(letters[r.integers(0, 26, int(r.integers(3, 9)))]) for _ in range(4000)
    } - stop)
    langs = sorted(_CORPUS_STOPWORDS)

    def doc(lang: str, n_words: int) -> list[str]:
        sw = _CORPUS_STOPWORDS[lang]
        return [sw[r.integers(0, len(sw))] if r.random() < 0.33
                else vocab[r.integers(0, len(vocab))] for _ in range(n_words)]

    texts: list[list[str]] = []
    doc_lang: list[str] = []
    groups: list[list[int]] = []
    short: list[int] = []
    while len(texts) < n_docs:
        lang = langs[r.integers(0, len(langs))]
        u = r.random()
        if u < 0.05:
            short.append(len(texts))
            texts.append(doc(lang, int(r.integers(3, 7))))
            doc_lang.append(lang)
        elif u < 0.15:
            base = doc(lang, int(r.integers(30, 81)))
            members = [base]
            for _ in range(int(r.integers(1, 4))):
                copy = list(base)
                if r.random() < 0.5:
                    k = int(r.integers(0, len(copy)))
                    word = copy[k]
                    while word == copy[k]:
                        word = vocab[r.integers(0, len(vocab))]
                    copy[k] = word
                members.append(copy)
            members = members[: n_docs - len(texts)]
            groups.append(list(range(len(texts), len(texts) + len(members))))
            texts.extend(members)
            doc_lang.extend([lang] * len(members))
        else:
            texts.append(doc(lang, int(r.integers(30, 81))))
            doc_lang.append(lang)
    ids = r.permutation(len(texts)).astype(np.int64)
    dropped = {i for g in groups for i in g} | set(short)
    expected = {int(ids[i]) for i in range(len(texts)) if i not in dropped}
    expected |= {int(min(ids[i] for i in g)) for g in groups}
    path = os.path.join(out_dir, "documents.parquet")
    rows, nbytes = _write(path, {
        "doc_id": pa.array(ids),
        "text": pa.array([" ".join(t) for t in texts]),
        "lang": pa.array(doc_lang),
    })
    return {"rows": rows, "bytes": nbytes, "files": 1,
            "expected": expected, "short": {int(ids[i]) for i in short},
            "groups": [[int(ids[i]) for i in g] for g in groups]}
