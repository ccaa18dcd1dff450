"""Seeded input generators and the facts each one plants.

Every generator takes a ``random.Random`` and a directory, writes its
inputs there and returns the facts the output checks compare against.
The same seed writes byte-identical files: rows come from the seeded
generator only, CSVs are written by ``csv.writer`` with a fixed line
terminator, JSON lines by ``json.dumps``, and parquet files by pyarrow
from in-memory arrays (no pandas metadata, no column statistics).
"""

from __future__ import annotations

import csv
import json
import os
import random
import re
import string

import pyarrow as pa
import pyarrow.parquet as pq

STATES = ("AL", "CA", "NY", "TX", "WA", "OH", "FL")

PENALTY_HEADER = (
    "CMS Certification Number (CCN)",
    "Penalty Date",
    "Penalty Type",
    "Fine Amount",
    "Payment Denial Length in Days",
    "State",
    "Provider Name",
)

#: the ``datasets.yml`` shape ``pipelines.penalties.run_build`` consumes
PENALTY_CONFIG = {
    "datasets": {
        "penalties": {
            "filename_pattern": "NH_Penalties_*.csv",
            "staging_table": "staging_penalties",
            "natural_key": [
                "cms_certification_number_ccn",
                "penalty_date",
                "penalty_type",
            ],
            "columns": {
                "cms_certification_number_ccn": {"type": "string"},
                "penalty_date": {"type": "date"},
                "penalty_type": {"type": "string"},
                "fine_amount": {"type": "numeric"},
                "payment_denial_length_in_days": {"type": "int"},
                "state": {"type": "string"},
                "provider_name": {"type": "string"},
            },
        }
    }
}

DAILY_FILE = "PBJ_Daily_Nurse_Staffing.csv"
CONTRACT_FILE = "PBJ_Contract_Employed.csv"
DECOY_FILE = "NH_CitationDescriptions.csv"
#: raw quarter spellings the pipeline normalizes to ``YYYY-Qn``
QUARTER_FORMATS = ("{y}Q{q}", "{y} Q{q}", "{y}-{q}")


def _write_csv(path: str, header, rows) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _file_rows(path: str) -> int:
    with open(path, newline="", encoding="utf-8") as f:
        return sum(1 for _ in csv.reader(f)) - 1


def _norm_stem(name: str) -> str:
    return re.sub(r"[^0-9a-zA-Z]+", "_", os.path.splitext(name)[0]).strip("_").lower()


def _num(s: str) -> float | None:
    try:
        return float(s)
    except ValueError:
        return None


def etl_drop(rng: random.Random, out: str, *, facilities: int, days: int) -> dict:
    """One CMS-style CSV drop (FIXTURES.md §1 and §3 quirk rows).

    Two ``NH_Penalties_*`` files (the second lacks the denial column),
    a PBJ daily file and a contract/employed file that join on
    (PROVNUM, CY_Qtr), and a decoy CSV the staffing scan must skip.
    Returns the staged row count, planted duplicate keys, expected
    staffing output, and per-file row counts.
    """
    os.makedirs(out, exist_ok=True)
    provs = [f"{rng.randrange(1, 99):02d}{rng.randrange(0, 9999):04d}" for _ in range(facilities)]
    provs = sorted(set(provs))
    state_of = {p: STATES[i % len(STATES)] for i, p in enumerate(provs)}

    # penalties: unique natural keys plus planted duplicate pairs
    pen_rows: list[list[str]] = []
    used: set[tuple] = set()
    for i, p in enumerate(provs * 3):
        kind = "Fine" if i % 4 else "Payment Denial"
        while True:
            key = (p, f"{rng.randrange(1, 13):02d}/{rng.randrange(1, 29):02d}/2024", kind)
            if key not in used:
                used.add(key)
                break
        fine = "" if i % 11 == 0 else ("0" if i % 7 == 0 else f"{rng.uniform(100, 90000):.2f}")
        denial = str(rng.randrange(5, 60)) if kind == "Payment Denial" else ""
        name = f"{rng.choice(('Oak', 'Elm', 'Pine'))} Care, Unit {i}" if i % 13 == 0 else f"Home {p}"
        pen_rows.append([key[0], key[1], kind, fine, denial, state_of[p], name])
    # one unparseable date per file → NULL after the declared cast
    half = len(pen_rows) // 2
    pen_rows[1][1] = "bad-date"
    pen_rows[half + 1][1] = "13/45/20x4"
    dup_keys = max(2, len(pen_rows) // 40)
    for j in range(dup_keys):
        src = pen_rows[2 + 5 * j]
        pen_rows.append([src[0], src[1], src[2], f"{rng.uniform(1, 500):.2f}", src[4], src[5], "Dup Row"])
    rng.shuffle(pen_rows)
    # file b has no denial column: run_build pads it with NULLs
    cut = len(pen_rows) // 2
    _write_csv(os.path.join(out, "NH_Penalties_2024a.csv"), PENALTY_HEADER, pen_rows[:cut])
    hdr_b = [h for h in PENALTY_HEADER if not h.startswith("Payment Denial")]
    _write_csv(
        os.path.join(out, "NH_Penalties_2024b.csv"),
        hdr_b,
        [r[:4] + r[5:] for r in pen_rows[cut:]],
    )

    # PBJ staffing: one contract row per (PROVNUM, CY_Qtr), `days` daily rows
    daily: list[list[str]] = []
    contract: list[list[str]] = []
    expected: dict[tuple, list[float]] = {}
    for fi, p in enumerate(provs):
        for q in (1, 2):
            raw_q = QUARTER_FORMATS[fi % 3].format(y=2024, q=q)
            if fi == 3 and q == 2:
                raw_q = "garbage"  # normalizes to NULL → dropped
            ctr = ["" if (fi + q) % 5 == 0 else f"{rng.uniform(0, 40):.1f}" for _ in range(3)]
            emp = [f"{rng.uniform(5, 80):.1f}" for _ in range(3)]
            if fi == 5:
                emp = ["0", "0", "0"]  # employed denominator 0 → group dropped
            contract.append([p, raw_q, *ctr, *emp])
            for d in range(days):
                census = f"{rng.randrange(20, 140)}"
                hrs = [f"{rng.uniform(1, 90):.2f}" for _ in range(3)]
                if (fi + d) % 17 == 0:
                    census = "0"  # zero-blanks all four criticals
                elif (fi + d) % 19 == 0:
                    census = "n/a"  # non-numeric → NULL
                elif (fi + d) % 23 == 0:
                    hrs[1] = "0"
                daily.append([p, state_of[p], raw_q, f"2024-{q * 3:02d}-{d + 1:02d}", census, *hrs])
                vals = [_num(census)] + [_num(h) for h in hrs]
                if any(v == 0 for v in vals):
                    vals = [None] * 4
                if raw_q == "garbage" or any(v is None for v in vals):
                    continue
                ctr_sum = sum(_num(c) or 0.0 for c in ctr)
                emp_sum = sum(_num(e) or 0.0 for e in emp)
                acc = expected.setdefault((state_of[p], p, f"2024-Q{q}"), [0.0, 0.0, 0.0, 0.0])
                acc[0] += vals[1] + vals[2] + vals[3]
                acc[1] += vals[0]
                acc[2] += ctr_sum
                acc[3] += emp_sum
    rng.shuffle(daily)
    _write_csv(
        os.path.join(out, DAILY_FILE),
        ["PROVNUM", "STATE", "CY_Qtr", "WorkDate", "MDScensus", "Hrs_RN", "Hrs_LPN", "Hrs_CNA"],
        daily,
    )
    _write_csv(
        os.path.join(out, CONTRACT_FILE),
        ["PROVNUM", "CY_Qtr", "Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr",
         "Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp"],
        contract,
    )
    _write_csv(
        os.path.join(out, DECOY_FILE),
        ["Deficiency Prefix", "Deficiency Tag Number", "Deficiency Description"],
        [["F", f"{n:04d}", f"Description {n}"] for n in range(rng.randrange(40, 60))],
    )
    staffing = {
        k: {
            "total_nurse_hours": h,
            "nurse_to_patient_ratio": h / c,
            "contract_vs_employed_ratio": ctr / emp,
        }
        for k, (h, c, ctr, emp) in expected.items()
        if c != 0 and emp != 0
    }
    files = sorted(f for f in os.listdir(out) if f.endswith(".csv"))
    return {
        "staged_rows": len(pen_rows),
        "dup_keys": dup_keys,
        "penalty_states": len(set(state_of.values())),
        "staffing": staffing,
        "profiled": {_norm_stem(f): _file_rows(os.path.join(out, f)) for f in files},
        "input_bytes": sum(os.path.getsize(os.path.join(out, f)) for f in files),
    }


# --------------------------------------------------------------------------
# corpus shard
# --------------------------------------------------------------------------

STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choices(string.ascii_lowercase, k=rng.randrange(4, 9))))
    return sorted(words)


def _doc_tokens(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    """Every fourth token is a stopword, so the language filter passes
    and no 5-gram is made of stopwords alone (no chance overlap with
    the evaluation set)."""
    return [rng.choice(STOPWORDS) if i % 4 == 0 else rng.choice(vocab) for i in range(n)]


def corpus_shard(
    rng: random.Random, out: str, *, docs: int, vectors: int, dim: int, queries: int
) -> dict:
    """One shard of documents, embeddings and an evaluation set.

    Planted: docs the quality or language filter rejects, exact copies,
    near-duplicate clusters (one word replaced per variant; 3-shingle
    Jaccard ≥ 0.8 against the cluster's base), and docs that embed a
    5-word run of an evaluation passage. Returns the exact surviving id
    set and, for each query vector, the id of the vector it copies.
    """
    os.makedirs(out, exist_ok=True)
    vocab = _vocab(rng, 4000)
    texts: list[str] = []
    kinds: list[str] = []
    evalset = [" ".join(_doc_tokens(rng, vocab, 30)) for _ in range(6)]
    n_unique = docs * 6 // 10
    for _ in range(n_unique):
        texts.append(" ".join(_doc_tokens(rng, vocab, rng.randrange(30, 60))))
        kinds.append("unique")
    for i in range(docs // 20):  # near-duplicate clusters of 3-5 docs
        base = _doc_tokens(rng, vocab, 48)
        texts.append(" ".join(base))
        kinds.append(f"cluster{i}")
        for v in range(rng.randrange(2, 5)):
            var = list(base)
            var[7 + 9 * v] = rng.choice(vocab)
            texts.append(" ".join(var))
            kinds.append(f"cluster{i}")
    for _ in range(docs // 25):  # exact copies of unique docs
        texts.append(texts[rng.randrange(n_unique)])
        kinds.append("copy")
    for _ in range(docs // 25):  # contaminated: a 5-gram from the eval set
        toks = _doc_tokens(rng, vocab, 40)
        ev = rng.choice(evalset).split(" ")
        at = rng.randrange(0, len(ev) - 5)
        toks[10:15] = ev[at : at + 5]
        texts.append(" ".join(toks))
        kinds.append("contaminated")
    while len(texts) < docs:  # fail the quality (short, digits) or language filter
        if len(texts) % 2:
            texts.append("the " + " ".join(str(rng.randrange(100, 999)) for _ in range(4)))
        else:
            texts.append(" ".join(rng.choice(vocab) for _ in range(40)))
        kinds.append("filtered")
    order = list(range(len(texts)))
    rng.shuffle(order)
    doc_ids = [0] * len(texts)
    for k, j in enumerate(order):
        doc_ids[j] = 1000 + 3 * k

    survivors: set[int] = set()
    first_copy: dict[str, int] = {}
    cluster_min: dict[str, int] = {}
    for did, text, kind in zip(doc_ids, texts, kinds):
        if kind in ("filtered", "contaminated"):
            continue
        if text in first_copy:
            first_copy[text] = min(first_copy[text], did)
        else:
            first_copy[text] = did
        if kind.startswith("cluster"):
            cluster_min[kind] = min(cluster_min.get(kind, did), did)
    for did, text, kind in zip(doc_ids, texts, kinds):
        if kind.startswith("cluster"):
            if did == cluster_min[kind]:
                survivors.add(did)
        elif kind in ("unique", "copy") and first_copy[text] == did:
            survivors.add(did)

    rows = sorted(zip(doc_ids, texts, kinds))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": [f"src{r[0] % 5}" for r in rows],
            }
        ),
        os.path.join(out, "documents.parquet"),
        write_statistics=False,
    )
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(evalset)), pa.int64()), "text": evalset}),
        os.path.join(out, "evalset.parquet"),
        write_statistics=False,
    )
    # embeddings: clustered around a few directions so IVF cells differ
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(8)]
    vecs = [
        [c + rng.gauss(0, 0.35) for c in centers[i % len(centers)]] for i in range(vectors)
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(vectors), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([i % len(centers) for i in range(vectors)], pa.int32()),
            }
        ),
        os.path.join(out, "embeddings.parquet"),
        write_statistics=False,
    )
    targets = rng.sample(range(vectors), queries)
    return {
        "survivors": survivors,
        "contaminated": kinds.count("contaminated"),
        "queries": [(t, [float(pa.scalar(v, pa.float32()).as_py()) for v in vecs[t]]) for t in targets],
        "input_bytes": sum(
            os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
        ),
    }


# --------------------------------------------------------------------------
# ingest stream
# --------------------------------------------------------------------------


def ingest_stream(rng: random.Random, out: str, *, corpus_docs: int, batches: int,
                  fresh: int) -> dict:
    """An index corpus and micro-batch files for the dedup ingest loop.

    Each batch holds ``fresh`` new documents and, with higher ids (the
    loop keeps the lower id of a pair), one each of: an exact copy of a
    fresh doc, a near copy of another (one token appended: 3-shingle
    Jaccard ≥ 0.98), an exact and a near copy of corpus docs, and from
    the second batch on a near copy of a doc an earlier batch
    accepted. Returns the corpus path, the batch paths in order and
    the accepted id set.
    """
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    vocab = _vocab(rng, 4000)

    def text() -> str:
        return " ".join(_doc_tokens(rng, vocab, rng.randrange(80, 100)))

    def near(t: str) -> str:
        return f"{t} {rng.choice(vocab)}"

    corpus = [text() for _ in range(corpus_docs)]
    corpus_path = os.path.join(out, "corpus.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(range(corpus_docs), pa.int64()), "text": corpus}),
        corpus_path,
        write_statistics=False,
    )
    accepted: list[tuple[int, str]] = []
    paths = []
    for b in range(batches):
        base = 100_000 * (b + 1)
        rows = [(base + j, text()) for j in range(fresh)]
        copied = rng.sample(corpus, 2)
        planted = [rows[0][1], near(rows[1][1]), copied[0], near(copied[1])]
        if accepted:
            planted.append(near(rng.choice(accepted)[1]))
        accepted.extend(rows)
        rows += [(base + fresh + j, t) for j, t in enumerate(planted)]
        rng.shuffle(rows)
        path = os.path.join(out, "batches", f"batch-{b:03d}.json")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            for doc_id, t in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": t}) + "\n")
        paths.append(path)
    return {
        "corpus": corpus_path,
        "batches": paths,
        "accepted": {doc_id for doc_id, _ in accepted},
    }
