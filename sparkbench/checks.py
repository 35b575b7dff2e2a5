"""Output checks. Each returns a list of problems; empty means correct.
They run outside the timed region, on outputs each operation kept."""

from __future__ import annotations

import csv
import io
import os

from gen import CSV_FILLED


def cleaned_csv(data: bytes, id0: int, distinct_rows: int) -> list[str]:
    """A downloaded service result: one row per distinct input row, every
    id of the uploaded file (ids ``id0 ..``) and no other, and no empty or
    NaN cell in the numeric columns the request fills."""
    rows = list(csv.reader(io.StringIO(data.decode())))
    if not rows:
        return ["empty download"]
    header, body = rows[0], rows[1:]
    problems = []
    if len(body) != distinct_rows:
        problems.append(f"{len(body)} rows, expected {distinct_rows} distinct input rows")
    i = header.index("id")
    ids = {int(float(r[i])) for r in body}
    if ids != set(range(id0, id0 + distinct_rows)):
        problems.append("row ids differ from the uploaded file's")
    for col in CSV_FILLED:
        if col not in header:
            problems.append(f"column {col} missing")
            continue
        i = header.index(col)
        bad = sum(1 for r in body if r[i] in ("", "NaN", "null"))
        if bad:
            problems.append(f"{bad} NULL cells in filled column {col}")
    return problems


def part_file(out_dir: str) -> str | None:
    parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-")) if os.path.isdir(out_dir) else []
    return os.path.join(out_dir, parts[0]) if len(parts) == 1 else None


def deduped_corpus(doc_ids: set[int], truth: dict) -> list[str]:
    """A corpus pass result against the generator's planted facts."""
    problems = []
    junk = doc_ids & set(truth["junk"])
    if junk:
        problems.append(f"{len(junk)} repetitive docs kept")
    lost = set(truth["unique"]) - doc_ids
    if lost:
        problems.append(f"{len(lost)} unique docs dropped")
    bad = [c for c in truth["clusters"] if len(doc_ids & set(c)) != 1]
    if bad:
        problems.append(f"{len(bad)} near-duplicate clusters do not keep exactly one doc")
    return problems
