"""Seeded input generators, one per workload.

Every generator is a pure function of its seed: the same seed gives
byte-identical files, another seed gives other files. Each returns a
manifest (paths, row and byte counts, and the planted facts the output
checks need) that the launcher stores next to the inputs. Nothing here
imports Spark: generation runs before the benchmark's worker process
starts, so it is outside both the timed region and ``setup_s``.
"""

from __future__ import annotations

import csv
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# service_clean: messy customer CSVs (FIXTURES.md section B1)

TYPOS = ["managment", "busness", "deparment", "goverment", "recieve", "teh", "adn"]
FIRST = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi",
         "ivan", "judy", "mallory", "niaj", "olivia", "peggy", "rupert", "sybil",
         "trent", "victor", "walter", "yolanda"]
LAST = ["smith", "jones", "brown", "taylor", "wilson", "davies", "evans",
        "thomas", "johnson", "roberts", "walker", "wright", "robinson", "green"]
CITIES = ["New York", "Los Angeles", "Chicago", "Houston", "Phoenix",
          "Philadelphia", "San Antonio", "San Diego", "Dallas", "Austin",
          "Boston", "Denver", "Seattle", "Miami", "Atlanta", "Portland",
          "Detroit", "Memphis", "Nashville", "Baltimore"]
CITY_NEAR = {"New York": "new yrok", "Chicago": "chicgo", "Seattle": "seatle",
             "Boston": "bostn", "Denver": "denvr"}
CITY_MISSING = ["N/A", "null", "unknown", ""]
GRADES = ["A", "B", "C", "D", "F"]
GENDERS = ["male", "female", "m", "f", "Male", " FEMALE"]
ACTIVE = ["yes", "no", "Y", "N", "1", "0"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]
NOTE_WORDS = ["the", "customer", "asked", "about", "their", "order", "and",
              "billing", "department", "management", "business", "support",
              "call", "again", "please", "review", "account", "status"]
CSV_COLUMNS = ["id", "name", "city", "grade", "gender", "age", "salary",
               "signup_date", "is_active", "note"]
# Numeric columns the clean request fills; the output check requires
# them to be NULL-free in the downloaded CSV.
CSV_FILLED = ["age", "salary"]


def _messy_rows(rng: np.random.Generator, n: int, id0: int) -> list[list[str]]:
    rows = []
    for i in range(n):
        name = f"{FIRST[rng.integers(len(FIRST))]} {LAST[rng.integers(len(LAST))]}"
        r = rng.random()
        if r < 0.3:
            name = f"  {name.upper()} "
        elif r < 0.5:
            name = name.replace(" ", "   ")
        if rng.random() < 0.02:
            name = f"{name} {TYPOS[rng.integers(len(TYPOS))]}"
        city = CITIES[rng.integers(len(CITIES))]
        r = rng.random()
        if r < 0.05:
            city = CITY_NEAR.get(city, city.lower())
        elif r < 0.09:
            city = CITY_MISSING[rng.integers(len(CITY_MISSING))]
        grade = "" if rng.random() < 0.05 else GRADES[rng.integers(len(GRADES))]
        r = rng.random()
        age = "" if r < 0.08 else ("—" if r < 0.085 else str(int(rng.integers(18, 80))))
        r = rng.random()
        salary = f"{rng.normal(60000, 15000):.2f}"
        if r < 0.03:
            salary = "NaN"
        elif r < 0.04:
            salary = f"{rng.normal(60000, 15000) * 100:.2f}"
        y, m, d = int(rng.integers(2015, 2024)), int(rng.integers(1, 13)), int(rng.integers(1, 29))
        r = rng.random()
        if r < 0.1:
            date = "not a date"
        elif r < 0.55:
            date = f"{y:04d}-{m:02d}-{d:02d}"
        elif r < 0.8:
            date = f"{d:02d}/{m:02d}/{y:04d}"
        else:
            date = f"{MONTHS[m - 1]} {d:02d}, {y:04d}"
        words = [NOTE_WORDS[j] for j in rng.integers(len(NOTE_WORDS), size=int(rng.integers(3, 9)))]
        r = rng.random()
        if r < 0.1:
            words.append(f"https://example.com/t/{int(rng.integers(1000))}")
        elif r < 0.2:
            words.append(f"user{int(rng.integers(1000))}@example.com")
        elif r < 0.3:
            words = ["<b>"] + words + ["</b>"]
        if rng.random() < 0.1:
            words.append(TYPOS[rng.integers(len(TYPOS))])
        rows.append([str(id0 + i), name, city, grade, GENDERS[rng.integers(len(GENDERS))],
                     age, salary, date, ACTIVE[rng.integers(len(ACTIVE))],
                     " ".join(words) + "!"])
    # the one `inf` literal of the fixture
    rows[int(rng.integers(n))][6] = "inf"
    return rows


def messy_csv(seed: int, n: int, id0: int = 1, dup_frac: float = 0.05) -> tuple[bytes, dict]:
    """One messy CSV: ``n`` distinct rows with ids ``id0 .. id0+n-1`` plus
    ``dup_frac`` full-row duplicates inserted at seeded positions."""
    rng = np.random.default_rng(seed)
    rows = _messy_rows(rng, n, id0)
    n_dup = int(round(n * dup_frac))
    src = rng.choice(n, size=n_dup, replace=False)
    out = list(rows)
    for s in sorted(src.tolist(), reverse=True):
        out.insert(int(rng.integers(s, len(out) + 1)), list(rows[s]))
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(CSV_COLUMNS)
    w.writerows(out)
    data = buf.getvalue().encode()
    return data, {"rows": len(out), "distinct_rows": n, "id0": id0, "bytes": len(data)}


def service_inputs(seed: int, out_dir: str, clients: int, per_client: int, n: int) -> dict:
    """``per_client`` different CSVs per client, each with its own id
    range; a client uploads them in turn under its own filename, so every
    cycle sends new bytes and its result can be told from another's."""
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for c in range(clients):
        for k in range(per_client):
            id0 = 1 + (c * per_client + k) * n
            data, meta = messy_csv(seed * 1_000_003 + c * 1009 + k, n, id0)
            path = os.path.join(out_dir, f"client{c}_{k}.csv")
            with open(path, "wb") as f:
                f.write(data)
            files.append({"client": c, "path": path, **meta})
    return {
        "workload": "service_clean",
        "files": files,
        "rows": sum(f["rows"] for f in files),
        "bytes": sum(f["bytes"] for f in files),
    }


# --------------------------------------------------------------------------
# corpus_dedup: prose documents, planted near-duplicate clusters and
# repetitive junk

STOP = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]


def _vocabulary() -> list[str]:
    """A fixed 3000-word pseudo-English vocabulary (not seeded per run:
    the workload's seed varies the documents, not the language)."""
    rng = np.random.default_rng(12345)
    syll = ["ka", "lo", "mi", "ter", "son", "ra", "vel", "den", "po", "sti",
            "na", "gre", "bal", "cor", "fen", "ul", "tra", "mon", "pel", "xi"]
    words: set[str] = set()
    while len(words) < 3000:
        words.add("".join(syll[j] for j in rng.integers(len(syll), size=int(rng.integers(2, 4)))))
    return sorted(words)


def _prose(rng: np.random.Generator, vocab: list[str], n_words: int) -> list[str]:
    out = []
    for _ in range(n_words):
        if rng.random() < 0.25:
            out.append(STOP[rng.integers(len(STOP))])
        else:
            out.append(vocab[rng.integers(len(vocab))])
    return out


def corpus_inputs(seed: int, out_dir: str, n: int) -> dict:
    """``n`` documents: ~10% near-duplicates, ~6% repetitive low-quality
    documents, the rest unique prose. Document ids are a seeded
    permutation, so an original is not always the smaller id of its pair.

    Each near-duplicate cluster is a pair: an original and one copy with
    ~3% of its words replaced. ``minhash_dedup`` drops the larger id of
    every verified pair; in a cluster of three, a copy-copy pair that LSH
    misses (a documented recall limit) can leave two docs, so larger
    clusters would make "keeps exactly one" a probabilistic check."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary()
    n_junk = int(n * 0.06)
    n_near = int(n * 0.10)
    docs: list[str] = []
    kind: list[str] = []
    cluster: list[int] = []
    n_cl = 0
    while n_near > 0:
        base = _prose(rng, vocab, int(rng.integers(80, 160)))
        copy = list(base)
        for j in rng.choice(len(copy), size=max(1, len(copy) * 3 // 100), replace=False):
            copy[j] = vocab[rng.integers(len(vocab))]
        for words in (base, copy):
            docs.append(" ".join(words))
            kind.append("near")
            cluster.append(n_cl)
        n_near -= 2
        n_cl += 1
    for _ in range(n_junk):
        phrase = " ".join(vocab[j] for j in rng.integers(len(vocab), size=int(rng.integers(2, 5))))
        docs.append(" ".join([phrase] * int(rng.integers(20, 40))))
        kind.append("junk")
        cluster.append(-1)
    while len(docs) < n:
        docs.append(" ".join(_prose(rng, vocab, int(rng.integers(60, 200)))))
        kind.append("unique")
        cluster.append(-1)
    ids = rng.permutation(len(docs)).astype(np.int64) + 1
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(ids[order]),
        "text": pa.array([docs[i] for i in order]),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(table, path, row_group_size=max(1, len(docs) // 8))
    truth = {
        "unique": sorted(int(ids[i]) for i in range(len(docs)) if kind[i] == "unique"),
        "junk": sorted(int(ids[i]) for i in range(len(docs)) if kind[i] == "junk"),
        "clusters": [
            sorted(int(ids[i]) for i in range(len(docs)) if cluster[i] == c)
            for c in range(n_cl)
        ],
    }
    return {
        "workload": "corpus_dedup",
        "path": path,
        "rows": len(docs),
        "bytes": os.path.getsize(path),
        "truth": truth,
    }
