"""Seeded input generator for the benchmark's workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files. Outputs are cached under
``perfbench/_inputs/<workload>-s<seed>-<SIZE_TAG>/`` (written to a
temporary directory and renamed, so a killed run never leaves a
half-written cache entry). Generation imports nothing from the engine.

Run standalone to pre-build a cache entry::

    python3 perfbench/gen.py --workload curation_ingest --seed 7

Ground truth the checks need (planted duplicate families, planted
quality verdicts, the ANSI twin of every query) is written beside the
data in ``truth.json``; the engine only ever reads the data files.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, "_inputs")

# Input sizes. Changing any of them changes what the benchmark
# measures, so the tag is part of the cache key.
SQL_ROWS = 20_000          # table1 / table2 rows (table3: 2x, 600 distinct)
CUR_DOCS = 400             # curation corpus documents
CUR_VECS = 360             # curation embeddings
STREAM_SEED_DOCS = 240     # documents indexed before the stream starts
STREAM_FILES = 3           # micro-batch files in the drop folder
STREAM_FILE_DOCS = 60      # rows per micro-batch file
SIZE_TAG = "v5"

# --------------------------------------------------------------------------
# text corpus helpers (curation + stream)
# --------------------------------------------------------------------------

EN_STOP = ("the", "and", "of", "to", "in", "is", "it", "that", "was", "for")
LANG_MARK = {
    "en": EN_STOP,
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "les", "et", "est", "une", "des", "dans"),
    "es": ("el", "los", "las", "es", "una", "del", "para", "con"),
    "zh": ("shi", "bu", "wo", "ni", "ta", "men", "zai", "you"),
}
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")  # en-heavy mix
_RESERVED = {w for ws in LANG_MARK.values() for w in ws}
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(_LETTERS, int(rng.integers(lo, hi + 1))))
        if w not in _RESERVED:
            out.add(w)
    return sorted(out)


def quality_verdicts(text: str) -> dict[str, bool]:
    """Independent restatement of the engine's five default quality
    rules (word count 10..10000, mean word length 3..10, symbol ratio
    <= 0.1, alpha-token ratio >= 0.8, >= 2 English stopwords). Used
    only to assert that each generated document has the verdict it was
    built to have; the built-in margins keep every verdict far from a
    threshold."""
    toks = text.split()
    n, n_chars = len(toks), len(text)
    n_sym = len(re.findall(r"[^A-Za-z0-9\s]", text))
    n_alpha = sum(1 for t in toks if re.search("[A-Za-z]", t))
    n_stop = len(re.findall(r"\b(" + "|".join(EN_STOP) + r")\b", text.lower()))
    mean_wl = (n_chars - (n - 1)) / max(n, 1)
    return {
        "r_word_count": 10 <= n <= 10_000,
        "r_mean_word_len": n > 0 and 3.0 <= mean_wl <= 10.0,
        "r_symbol_ratio": n_chars > 0 and n_sym / n_chars <= 0.1,
        "r_alpha_ratio": n > 0 and n_alpha / n >= 0.8,
        "r_stopword_hits": n_stop >= 2,
    }


def _passing_words(rng, vocab, lang: str, n_words: int) -> list[str]:
    words = [vocab[i] for i in rng.integers(0, len(vocab), n_words)]
    marks = LANG_MARK[lang]
    # >= 4 English stopwords so r_stopword_hits holds with margin for
    # every language; plus the language's own markers
    for _ in range(4):
        words.insert(int(rng.integers(0, len(words) + 1)), EN_STOP[int(rng.integers(0, 10))])
    for _ in range(3):
        words.insert(int(rng.integers(0, len(words) + 1)), marks[int(rng.integers(0, len(marks)))])
    return words


def _failing_words(rng, vocab, long_vocab, rule: str) -> list[str]:
    """Words of a document built to fail exactly ``rule``."""
    if rule == "r_word_count":
        return [vocab[i] for i in rng.integers(0, len(vocab), 4)] + ["the", "and", "of"]
    if rule == "r_stopword_hits":
        return [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(40, 70)))]
    words = _passing_words(rng, vocab, "en", int(rng.integers(40, 70)))
    if rule == "r_mean_word_len":
        words = [long_vocab[i] for i in rng.integers(0, len(long_vocab), len(words))]
        words += ["the", "and", "of"]
    elif rule == "r_symbol_ratio":
        words = [w + "!!" for w in words]
    elif rule == "r_alpha_ratio":
        words = [str(int(rng.integers(100, 999)))
                 if j % 3 == 0 and w not in EN_STOP else w
                 for j, w in enumerate(words)]
    return words


# --------------------------------------------------------------------------
# sql_interactive: reference-shaped metadata.txt + headerless integer CSVs
# --------------------------------------------------------------------------

SQL_SCHEMA = {"table1": ["A", "B", "C"], "table2": ["B", "D"], "table3": ["A", "B", "C"]}


def _sql_suffix(rng) -> str:
    return ["", ";", " -- ad hoc", "; -- from the prompt"][int(rng.integers(0, 4))]


def gen_sql(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 1])
    n = SQL_ROWS
    t1 = np.column_stack([
        rng.integers(-1000, 1001, n),          # A
        rng.permutation(n) * 3 + 1,            # B: unique key
        rng.integers(0, 10_001, n),            # C
    ])
    t2 = np.column_stack([rng.permutation(t1[:, 1]), rng.integers(0, 100_001, n)])
    pool = np.column_stack([
        rng.integers(-50, 51, 600), rng.integers(0, 200, 600), rng.integers(0, 300, 600)
    ])
    t3 = pool[rng.integers(0, 600, 2 * n)]     # duplicate-heavy
    with open(os.path.join(out, "metadata.txt"), "w") as fh:
        for t, cols in SQL_SCHEMA.items():
            fh.write("<begin_table>\n" + t + "\n" + "\n".join(cols) + "\n<end_table>\n")
    for name, arr in (("table1", t1), ("table2", t2), ("table3", t3)):
        np.savetxt(os.path.join(out, f"{name}.csv"), arr, fmt="%d", delimiter=",")

    def pick(col):
        return int(t1[int(rng.integers(0, n)), col])

    a_lo = int(rng.integers(-995, -960))
    a_hi = int(rng.integers(960, 995))
    b_cut = int(rng.integers(40, 80))
    a_join = int(rng.integers(850, 900))
    c_cut = int(rng.integers(200, 400))
    agg_t = ("table1", "table3")[int(rng.integers(0, 2))]
    # (kind, reference-dialect text sent to the engine, ANSI twin for DuckDB)
    q = [
        ("sql_star", "select * from table2", "select * from table2"),
        ("sql_agg", "select max(A) from table1", "select max(A) from table1"),
        ("sql_agg", "select min(B) from table1", "select min(B) from table1"),
        ("sql_agg", f"select sum(C) from {agg_t}", None),
        ("sql_agg", "select average(C) from table3", "select avg(C) from table3"),
        ("sql_project", "select A, C from table1", "select A, C from table1"),
        ("sql_distinct", "select distinct(C) from table3", "select distinct C from table3"),
        ("sql_filter", f"select B, C from table1 where A = {pick(0)}",
         None),
        ("sql_filter", f"select A, B from table1 where A < {a_lo}", None),
        ("sql_filter", f"select A, C from table1 where A > {a_hi}", None),
        ("sql_filter", f"select A, B from table1 where A = {pick(0)} OR B = {pick(1)}", None),
        ("sql_filter", f"select A, B, C from table1 where A > {a_hi} AND C < {c_cut * 10}", None),
        ("sql_cross", f"select table1.A, table2.D from table1, table2 "
         f"where table1.B < {b_cut} and table2.B < {b_cut}", None),
        ("sql_join", f"select A, D from table1, table2 where table1.B = table2.B "
         f"and table1.A > {a_join}", None),
    ]
    queries = []
    for kind, text, ansi in q:
        queries.append({
            "kind": kind,
            "text": text + _sql_suffix(rng),
            "ansi": ansi or text,
        })
    return {"queries": queries, "schema": SQL_SCHEMA}


# --------------------------------------------------------------------------
# curation_ingest, curation half: documents with planted structure + 64-d embeddings
# --------------------------------------------------------------------------

FAIL_RULES = ("r_word_count", "r_mean_word_len", "r_symbol_ratio",
              "r_alpha_ratio", "r_stopword_hits")


def _doc_corpus(rng, n_docs: int, first_id: int = 0):
    """(rows, families, passing ids, exact pairs) for ``n_docs``
    documents: 60% unique passing, 10% exact copies, 10% near copies,
    10% sharing a 14-word boilerplate span, 10% failing a named rule."""
    vocab = _vocab(rng, 3000, 4, 8)
    long_vocab = _vocab(rng, 400, 13, 16)
    boiler = [_vocab(rng, 14, 5, 7) for _ in range(4)]
    rows: list[dict] = []
    family: dict[int, int] = {}
    passing: set[int] = set()
    plan = (["unique"] * 6 + ["exact", "near", "boiler", "fail"]) * (n_docs // 10 + 1)
    plan = [plan[i] for i in rng.permutation(len(plan))][:n_docs]
    originals: list[dict] = []
    for i, what in enumerate(plan):
        did = first_id + i
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        if what in ("exact", "near") and originals:
            src = originals[int(rng.integers(0, len(originals)))]
            words = src["text"].split()
            if what == "near":
                j = int(rng.integers(0, len(words)))
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
            text, lang, fam = " ".join(words), src["lang"], family[src["doc_id"]]
        elif what == "fail":
            rule = FAIL_RULES[int(rng.integers(0, len(FAIL_RULES)))]
            text, fam = " ".join(_failing_words(rng, vocab, long_vocab, rule)), did
            v = quality_verdicts(text)
            if v[rule] or not all(ok for r, ok in v.items() if r != rule):
                raise AssertionError(f"generated doc {did} does not fail only {rule}")
        else:
            words = _passing_words(rng, vocab, lang, int(rng.integers(45, 75)))
            if what == "boiler":
                j = int(rng.integers(0, len(words)))
                words[j:j] = boiler[int(rng.integers(0, len(boiler)))]
            text, fam = " ".join(words), did
        if what != "fail":
            if not all(quality_verdicts(text).values()):
                raise AssertionError(f"generated doc {did} does not pass")
            passing.add(did)
        row = {"doc_id": did, "text": text, "lang": lang}
        rows.append(row)
        family[did] = fam
        if what in ("unique", "boiler"):
            originals.append(row)
    exact_pairs = sorted(
        (a["doc_id"], b["doc_id"])
        for ia, a in enumerate(rows) for b in rows[ia + 1:]
        if a["text"] == b["text"]
    )
    return rows, family, passing, exact_pairs


def _group_vectors(rng, n_vecs: int, dims: int = 64):
    """Unit vectors in planted groups of 1 to 5: members of a group
    have pairwise cosine >= 0.6, vectors of different groups < 0.3
    (checked; members are re-drawn until true), so the 0.4-cosine
    semantic-dedup threshold has a wide margin on both sides."""
    sizes: list[int] = []
    while sum(sizes) < n_vecs:
        sizes.append(int(rng.choice([1, 1, 2, 3, 4, 5])))
    sizes[-1] -= sum(sizes) - n_vecs
    bases = np.zeros((len(sizes), dims))
    n_b = 0
    while n_b < len(sizes):
        cand = rng.standard_normal((4096, dims))
        cand /= np.linalg.norm(cand, axis=1, keepdims=True)
        if n_b:
            cand = cand[(cand @ bases[:n_b].T).max(axis=1) < 0.2]
        for c in cand:  # the batch's survivors must also clear each other
            if n_b == len(sizes):
                break
            if n_b == 0 or np.max(bases[:n_b] @ c) < 0.2:
                bases[n_b] = c
                n_b += 1
    group = np.repeat(np.arange(len(sizes)), sizes)
    same = np.equal.outer(group, group)
    while True:
        m = bases[group] + 0.15 * rng.standard_normal((n_vecs, dims)) / np.sqrt(dims)
        m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
        u = m.astype(np.float64)
        u /= np.linalg.norm(u, axis=1, keepdims=True)
        cos = u @ u.T
        if cos[same].min() >= 0.6 and cos[~same].max() < 0.3:
            return m, [int(g) for g in group]


def gen_curation(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 3])
    rows, family, passing, exact_pairs = _doc_corpus(rng, CUR_DOCS)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(out, "documents.parquet"))
    vecs, group = _group_vectors(rng, CUR_VECS)
    ids = rng.permutation(np.arange(1000, 1000 + CUR_VECS)).astype(np.int64)
    pq.write_table(pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(np.zeros(CUR_VECS, dtype=np.int32)),
    }), os.path.join(out, "embeddings.parquet"))
    return {
        "n_docs": len(rows),
        "n_quality_pass": len(passing),
        "family": {str(k): v for k, v in family.items()},
        "exact_pairs": exact_pairs,
        "vec_group": {str(int(i)): g for i, g in zip(ids, group)},
    }


# --------------------------------------------------------------------------
# curation_ingest, stream half: seed corpus + drop folder of micro-batch files
# --------------------------------------------------------------------------


def _variant(rng, text: str) -> str:
    """A re-presentation with the same normalized content (case and
    whitespace only), so its content key equals the original's."""
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return text
    if kind == 1:
        return "  " + text.upper() + " "
    return text.replace(" ", "   ", 3)


def _stream_files(rng, seed_rows, n_files, file_docs, first_id, first_cid):
    """Drop-folder rows: per file ~70% new contents, ~30% planted
    re-presentations of seed or earlier-file contents and in-file
    copies."""
    vocab = _vocab(rng, 3000, 4, 8)
    pool = [(r["content_id"], r["text"], r["lang"]) for r in seed_rows]
    next_id, next_cid = first_id, first_cid
    files = []
    for _ in range(n_files):
        rows: list[dict] = []
        while len(rows) < file_docs:
            r = rng.random()
            if r < 0.7 or not pool:
                lang = LANGS[int(rng.integers(0, len(LANGS)))]
                text = " ".join(_passing_words(rng, vocab, lang, int(rng.integers(30, 60))))
                cid = next_cid
                next_cid += 1
                pool.append((cid, text, lang))
            else:
                cid, text, lang = pool[int(rng.integers(0, len(pool)))]
                if r > 0.9 and rows:
                    prior = rows[int(rng.integers(0, len(rows)))]
                    cid, text, lang = prior["content_id"], prior["text"], prior["lang"]
                text = _variant(rng, text)
            rows.append({"doc_id": next_id, "text": text, "lang": lang, "content_id": cid})
            next_id += 1
        files.append(rows)
    return files


def gen_stream(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab(rng, 3000, 4, 8)
    seed_rows = []
    for i in range(STREAM_SEED_DOCS):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        seed_rows.append({
            "doc_id": i,
            "text": " ".join(_passing_words(rng, vocab, lang, int(rng.integers(30, 60)))),
            "lang": lang,
            "content_id": i,
        })
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("content_id", pa.int64())])
    pq.write_table(pa.Table.from_pylist(seed_rows, schema=schema),
                   os.path.join(out, "seed.parquet"))
    files = _stream_files(rng, seed_rows, STREAM_FILES, STREAM_FILE_DOCS,
                          100_000, 100_000)
    # a one-file warm-up stream over its own contents
    warm = _stream_files(rng, seed_rows[:40], 1, 20, 500_000, 500_000)
    for sub, batches in (("drop", files), ("warm_drop", warm)):
        os.makedirs(os.path.join(out, sub))
        for k, rows in enumerate(batches):
            path = os.path.join(out, sub, f"part-{k:05d}.parquet")
            pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
            # the file source admits files in modification-time order;
            # files written within one clock tick would tie and be
            # taken in directory-listing order, so fix the order here
            os.utime(path, (1_600_000_000 + 10 * k,) * 2)
    seed_cids = {r["content_id"] for r in seed_rows}
    first_file_new = sorted({r["content_id"] for r in files[0]} - seed_cids)
    admitted = sorted({r["content_id"] for rows in files for r in rows} - seed_cids)
    lang_of = {r["content_id"]: r["lang"] for rows in files for r in rows}
    by_lang: dict[str, int] = {}
    for cid in admitted:
        by_lang[lang_of[cid]] = by_lang.get(lang_of[cid], 0) + 1
    return {
        "n_seed_keys": len(seed_cids),
        "admitted_cids": admitted,
        "first_file_admitted": len(first_file_new),
        "admitted_by_lang": by_lang,
        "drop_bytes": sum(os.path.getsize(os.path.join(out, "drop", f))
                          for f in os.listdir(os.path.join(out, "drop"))),
    }


def gen_curation_ingest(seed: int, out: str) -> dict:
    return {"curation": gen_curation(seed, out), "stream": gen_stream(seed, out)}


GENERATORS = {
    "sql_interactive": gen_sql,
    "curation_ingest": gen_curation_ingest,
}


def inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Return (directory, truth) for ``workload`` at ``seed``,
    generating and caching the inputs on first use."""
    final = os.path.join(CACHE, f"{workload}-s{seed}-{SIZE_TAG}")
    truth_path = os.path.join(final, "truth.json")
    if not os.path.exists(truth_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        truth = GENERATORS[workload](seed, tmp)
        with open(os.path.join(tmp, "truth.json"), "w") as fh:
            json.dump(truth, fh)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(truth_path) as fh:
        return final, json.load(fh)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=tuple(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    print(inputs(args.workload, args.seed)[0])


if __name__ == "__main__":
    main()
