"""Seeded input generators and their ledgers.

The program under test sees only the files written here. Each generator
also returns a ledger: what a correct run must report for those files.
The ledger is derived from how each row was built (which defects were
planted), not by running the engine, so a wrong engine result shows.

Production rows follow ``perfbench/mapping_config.xml``. Every planted
defect breaks exactly one field, and the errors it causes are listed in
``DEFECTS``. The dataset rules the pipeline runs with extensions on
(unique batch per day, per-file z-score outliers, duplicate keys, the
operator dimension) are applied on top, in the order
``plans.validator.annotate_errors`` applies them.
"""

from __future__ import annotations

import math
import os
import random
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Optional

HEADER = (
    "timestamp,line_id,batch_number,product_code,temperature_c,"
    "pressure_kpa,humidity_pct,operator_id,defect_count"
)
PRODUCTS = ("PROD-A1", "PROD-B2", "PROD-C3", "PROD-D4")
ZSCORE_THRESHOLD = 3.0
BAD_TS = "2024-13-45 10:00:00"  # month 13: Spark parses it to NULL

# defect -> (column index, raw value maker, row-rule error types it causes)
DEFECTS = {
    "missing_ts": (0, lambda r: "", ("REQUIRED_FIELD_MISSING",)),
    "bad_ts": (0, lambda r: BAD_TS, ("DATE_FORMAT",)),
    "old_ts": (0, lambda r: f"2019-06-{r.randint(1, 28):02d} 10:00:00", ("DATE_RANGE",)),
    "bad_line": (1, lambda r: f"LN-{r.randint(0, 99):02d}", ("REGEX",)),
    "missing_batch": (2, lambda r: "", ("REQUIRED_FIELD_MISSING",)),
    "bad_product": (3, lambda r: "PROD-Z9", ("LOOKUP",)),
    "hot_temp": (4, lambda r: f"{r.uniform(240.0, 260.0):.1f}", ("RANGE",)),
    "text_temp": (4, lambda r: "n/a", ("NUMERIC",)),
    "missing_pressure": (5, lambda r: "", ("REQUIRED_FIELD_MISSING",)),
    "neg_pressure": (5, lambda r: f"-{r.uniform(1.0, 50.0):.1f}", ("RANGE",)),
    "wet_humidity": (6, lambda r: f"{r.uniform(101.0, 120.0):.1f}", ("RANGE",)),
    "bad_operator": (7, lambda r: f"OPX{r.randint(0, 99):02d}", ("REGEX",)),
    "big_defects": (8, lambda r: str(r.randint(10_000, 20_000)), ("RANGE",)),
}


@dataclass
class EtlLedger:
    files: list[str]
    input_bytes: int
    total: int = 0
    valid: int = 0
    invalid: int = 0
    errors: int = 0
    error_types: dict[str, int] = field(default_factory=dict)
    planted_dup_keys: int = 0
    # the same counts with the extension rules off (row rules and
    # duplicate keys only), as the streaming front-end validates
    base: Optional[EtlLedger] = None

    def tally(self, errs: list[str]) -> None:
        self.total += 1
        if errs:
            self.invalid += 1
            self.errors += len(errs)
            for e in errs:
                self.error_types[e] = self.error_types.get(e, 0) + 1
        else:
            self.valid += 1


def operator_dim(n_keys: int) -> list[str]:
    return [f"OP{i:04d}" for i in range(1, n_keys + 1)]


def _valid_row(r: random.Random, ts: str, batch: str, n_ops: int) -> list[str]:
    u = r.random
    return [
        ts,
        f"LINE{r.randint(1, 40):03d}",
        batch,
        PRODUCTS[r.randrange(4)],
        f"{140.0 + 30.0 * u():.1f}",
        f"{400.0 + 100.0 * u():.1f}",
        f"{30.0 + 30.0 * u():.1f}" if u() < 0.9 else "",
        f"OP{r.randint(1, n_ops):04d}",
        str(r.randint(0, 20)),
    ]


def _file_errors(rows, row_errs, dim: set[str], extensions: bool = True) -> list[list[str]]:
    """Apply the dataset rules to one file's rows (row-rule errors given).
    Without ``extensions`` only the duplicate-key rule applies."""
    errs = [list(e) for e in row_errs]
    if not extensions:
        return _duplicate_errors(rows, errs)
    # unique batch_number per event-time day; unparseable times share the
    # NULL day
    groups = defaultdict(list)
    for i, row in enumerate(rows):
        if row[2]:
            day = None if row[0] in ("", BAD_TS) else row[0][:10]
            groups[(day, row[2])].append(i)
    for members in groups.values():
        if len(members) > 1:
            for i in members:
                errs[i].append("UNIQUE")
    # per-file z-score of temperature over every numeric value
    vals = [(i, float(row[4])) for i, row in enumerate(rows) if _is_number(row[4])]
    n = len(vals)
    mu = sum(v for _, v in vals) / n
    sigma = math.sqrt(sum((v - mu) ** 2 for _, v in vals) / (n - 1))
    for i, v in vals:
        z = abs(v - mu) / sigma
        if abs(z - ZSCORE_THRESHOLD) < 0.05:
            raise ValueError(f"generated |z|={z} too close to the threshold")
        if z > ZSCORE_THRESHOLD:
            errs[i].append("OUTLIER")
    errs = _duplicate_errors(rows, errs)
    for i, row in enumerate(rows):
        if row[7] and row[7] not in dim:
            errs[i].append("REFERENTIAL")
    return errs


def _duplicate_errors(rows, errs: list[list[str]]) -> list[list[str]]:
    """Duplicate keys flag only rows without an error so far."""
    groups = defaultdict(list)
    for i, row in enumerate(rows):
        groups[(row[0], row[1], row[2])].append(i)
    flagged = [i for members in groups.values() if len(members) > 1 for i in members if not errs[i]]
    for i in flagged:
        errs[i].append("DUPLICATE")
    return errs


def _is_number(s: str) -> bool:
    try:
        float(s)
    except ValueError:
        return False
    return True


def gen_production(
    out_dir: str,
    seed: int,
    *,
    n_files: int,
    rows_per_file: int,
    invalid_frac: float,
    multi_error_frac: float = 0.0,
    dup_frac: float = 0.0,
    unknown_operator_frac: float = 0.0,
    dim_keys: int = 2000,
) -> EtlLedger:
    """Write ``n_files`` CSVs of ``rows_per_file`` rows into ``out_dir``.

    ``invalid_frac`` of the rows carry planted defects; of those,
    ``multi_error_frac`` carry two or three defects on different fields.
    ``dup_frac`` of the rows copy the (timestamp, line, batch) key of an
    earlier clean row of the same file. ``unknown_operator_frac`` of the
    rows name a well-formed operator id that is not in the dimension.
    """
    r = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    dim = set(operator_dim(dim_keys))
    kinds = sorted(DEFECTS)
    ledger = EtlLedger(files=[], input_bytes=0)
    ledger.base = EtlLedger(files=ledger.files, input_bytes=0)
    if rows_per_file > 18 * 3600:
        raise ValueError("one file holds one day of per-second rows from 06:00")
    for f in range(n_files):
        day = (datetime(2024, 1, 1) + timedelta(days=r.randrange(0, 360))).strftime("%Y-%m-%d")
        rows, row_errs = [], []
        clean = []  # indices of untouched rows that may be a dup-key source
        for i in range(rows_per_file):
            ts = f"{day} {6 + i // 3600:02d}:{i // 60 % 60:02d}:{i % 60:02d}"
            row = _valid_row(r, ts, f"B{f:03d}{i:07d}", dim_keys)
            errs: list[str] = []
            u = r.random()
            if u < invalid_frac:
                n_def = 1
                if r.random() < multi_error_frac:
                    n_def = r.choice((2, 3))
                picked: dict[int, str] = {}
                while len(picked) < n_def:
                    kind = kinds[r.randrange(len(kinds))]
                    col = DEFECTS[kind][0]
                    picked.setdefault(col, kind)
                for col, kind in sorted(picked.items()):
                    row[col] = DEFECTS[kind][1](r)
                    errs.extend(DEFECTS[kind][2])
            elif u < invalid_frac + dup_frac and clean:
                src = rows[clean.pop(r.randrange(len(clean)))]
                row[0], row[1], row[2] = src[0], src[1], src[2]
                ledger.planted_dup_keys += 1
            elif u < invalid_frac + dup_frac + unknown_operator_frac:
                row[7] = f"OP{r.randint(dim_keys + 1, 9999):04d}"
            else:
                clean.append(i)
            rows.append(row)
            row_errs.append(errs)
        path = os.path.join(out_dir, f"production_data_{f:04d}.csv")
        text = HEADER + "\n" + "\n".join(",".join(row) for row in rows) + "\n"
        with open(path, "w") as fh:
            fh.write(text)
        ledger.files.append(path)
        ledger.input_bytes += len(text)
        ledger.base.input_bytes += len(text)
        for e in _file_errors(rows, row_errs, dim):
            ledger.tally(e)
        for e in _file_errors(rows, row_errs, dim, extensions=False):
            ledger.base.tally(e)
    for lg in (ledger, ledger.base):
        lg.error_types = dict(sorted(lg.error_types.items()))
    return ledger


# ---------------------------------------------------------------------------
# document corpus
# ---------------------------------------------------------------------------


@dataclass
class CorpusLedger:
    n_docs: int
    exact_dup_ids: list[int]
    near_dup_pairs: list[tuple[int, int]]


def _vocab(r: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(r.choice(letters) for _ in range(r.randint(3, 9))))
    return sorted(words)


def gen_corpus(seed: int, *, n_docs: int) -> tuple[list[tuple], CorpusLedger]:
    """Rows ``(doc_id, text, lang, ingest_ts)`` plus the ledger.

    5% of the docs copy an original verbatim up to case and punctuation,
    which normalization removes; 10% copy one with a single word replaced.
    Originals have 30-60 words. Every copy gets a larger id than its
    original, so the original is the survivor.
    """
    r = random.Random(seed)
    vocab = _vocab(r, 20_000)
    n_exact = int(n_docs * 0.05)
    n_near = int(n_docs * 0.10)
    n_orig = n_docs - n_exact - n_near
    texts = [
        " ".join(r.choice(vocab) for _ in range(r.randint(30, 60)))
        for _ in range(n_orig)
    ]
    copies = ["exact"] * n_exact + ["near"] * n_near
    r.shuffle(copies)
    exact_ids, near_pairs = [], []
    used = set()
    for kind in copies:
        src = r.randrange(n_orig)
        while src in used:
            src = r.randrange(n_orig)
        used.add(src)
        words = texts[src].split(" ")
        if kind == "exact":
            text = words[0].upper() + ", " + " ".join(words[1:]) + "."
            exact_ids.append(len(texts))
        else:
            pos = r.randrange(len(words))
            new = r.choice(vocab)
            while new == words[pos]:
                new = r.choice(vocab)
            words[pos] = new
            text = " ".join(words)
            near_pairs.append((src, len(texts)))
        texts.append(text)
    base = datetime(2024, 3, 1)
    rows = [
        (i, t, ("en", "de", "fr")[i % 3], base + timedelta(seconds=i))
        for i, t in enumerate(texts)
    ]
    return rows, CorpusLedger(n_docs=len(rows), exact_dup_ids=exact_ids, near_dup_pairs=near_pairs)
