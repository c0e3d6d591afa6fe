"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` (or a seed) and a
size, writes its inputs under a caller-owned directory, and returns
what the correctness checks need to know about them. The same seed
always produces byte-identical inputs.

* ``write_tables``: the star-schema, events, documents and embeddings
  tables the registered queries read (same column names and types as
  the tables the query registry is written against).
* ``write_claims_deliveries``: two claims CSV deliveries for the
  medallion pipeline, with the expected bronze split and gold
  inserted/updated counts of each.
* ``write_corpus``: documents and embeddings for the serving-index
  lifecycle, cut into seeded increments (the erase sets are drawn by
  the workload from the same seed).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- query tables ------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64
N_CLUSTERS = 10

def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Exactly-2-dp doubles (the registry's decimal rules assume them)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    a, b = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = a + rng.integers(0, int((b - a).astype(int)) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _write(df: dict, path: str) -> int:
    pq.write_table(pa.table(df), path)
    return os.path.getsize(path)


def documents(rng, n: int) -> dict:
    """Whitespace-token documents over a 30-word vocabulary. About 5%
    are near copies of an earlier document (same lang and source, a
    few tokens changed, so Jaccard stays high) and about 0.5% are
    exact copies."""
    ids = np.arange(n, dtype=np.int64)
    lens = rng.integers(10, 101, n)
    toks = [list(rng.choice(VOCAB, size=k)) for k in lens]
    lang = list(rng.choice(LANGS, size=n, p=LANG_P))
    source = [f"src{i % 20}" for i in ids]
    kind = rng.random(n)
    for i in range(1, n):
        j = int(rng.integers(0, i))
        if kind[i] < 0.005:
            toks[i] = list(toks[j])
        elif kind[i] < 0.05:
            t = list(toks[j])
            for _ in range(max(1, len(t) // 25)):
                t[int(rng.integers(0, len(t)))] = str(rng.choice(VOCAB))
            toks[i] = t + ["dup"]
        else:
            continue
        lang[i], source[i] = lang[j], source[j]
    text = [" ".join(t) for t in toks]
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }


def embeddings(rng, n: int) -> dict:
    """Unit float32 vectors around ``N_CLUSTERS`` seeded centres."""
    centres = rng.normal(size=(N_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, N_CLUSTERS, n)
    v = centres[label] + rng.normal(scale=1.2, size=(n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def write_tables(out_dir: str, seed: int, orders: int) -> int:
    """Write the ten query tables as ``<name>.parquet`` at a size set
    by ``orders``; the other tables keep the registry's test-data
    ratios to it (4 line items per order, 1 customer per 10 orders,
    ...). Returns the bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = orders // 10, max(10, orders // 150), orders // 7
    n_line, n_events, n_docs, n_vecs = orders * 4, orders * 2 // 3, orders // 20, orders // 40
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust
        ),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    }
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "SMALL", "MEDIUM", "STANDARD", "LARGE", "PROMO"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, orders), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, orders),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", orders),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], orders
        ),
    }
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, orders, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n_events)).astype("timedelta64[us]")
    t["events"] = {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, max(15, n_events // 70), n_events), i64),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_events),
        "value": _cents(rng, 0.01, 490.02, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }
    t["documents"] = documents(rng, n_docs)
    t["embeddings"] = embeddings(rng, n_vecs)
    return sum(_write(cols, os.path.join(out_dir, f"{name}.parquet")) for name, cols in t.items())


# -- claims deliveries -------------------------------------------------------

CLAIMS_HEADER = (
    "ClaimID,PatientID,ProviderID,ClaimAmount,ClaimDate,DiagnosisCode,"
    "ProcedureCode,PatientAge,PatientGender,ProviderSpecialty,ClaimStatus,"
    "PatientIncome,PatientMaritalStatus,PatientEmploymentStatus,"
    "ProviderLocation,ClaimType,ClaimSubmissionMethod"
)
_STATUSES = ["Approved", "Denied", "Pending", "Partial"]
_TYPES = ["Routine", "Emergency", "Inpatient", "Outpatient", "Urgent Care"]
_METHODS = ["Paper", "Online", "Phone"]
_SPECIALTIES = [f"Specialty{i}" for i in range(20)]
_CITIES = ["Boston", "Austin", "Denver", "Seattle", "Miami", "Chicago"]
# one bad-quality mutation per rule the quality gate checks: (field, value)
_VIOLATIONS = [
    (8, "X"),  # gender
    (10, "Unknown"),  # status
    (15, "Telehealth"),  # claim type
    (16, "Fax"),  # submission method
    (3, "-10.00"),  # amount <= 0
    (7, "-3"),  # age < 0
    (7, "150"),  # age > 120
    (0, None),  # ClaimID not a UUID
    (1, "not-a-patient"),  # PatientID not a UUID
    (2, "not-a-provider"),  # ProviderID not a UUID
]


@dataclass
class Delivery:
    """One claims CSV and what the pipeline must make of it."""

    path: str
    bytes: int
    split: dict[str, int]  # bronze: valid / malformed / duplicates / bad_quality
    gold: dict[str, tuple[int, int]]  # gold table -> (inserted, updated)


def _uuid(rng) -> str:
    return str(uuid.UUID(bytes=rng.bytes(16), version=4))


class ClaimsGenerator:
    """Claims rows whose bronze, silver and gold outcomes are known.

    Patients and providers come from fixed pools with fixed
    attributes, so the dimensions have exact expected sizes. Claim
    dates fall inside the silver date spine."""

    def __init__(self, seed: int, n_patients: int, n_providers: int = 50):
        self.rng = np.random.default_rng(seed)
        r = self.rng
        self.patients = [
            (_uuid(r), str(int(r.integers(0, 121))), str(r.choice(["F", "M", "U", "Other"])),
             str(r.choice(["Single", "Married", "Divorced"])),
             str(r.choice(["Employed", "Unemployed", "Retired"])),
             f"{int(r.integers(10000, 200000))}.00")
            for _ in range(n_patients)
        ]
        self.providers = [
            (_uuid(r), str(r.choice(_SPECIALTIES)), str(r.choice(_CITIES)))
            for _ in range(n_providers)
        ]

    def row(self, claim_id: str | None = None, patient: int | None = None,
            date: str | None = None) -> list[str]:
        r = self.rng
        p = self.patients[int(r.integers(0, len(self.patients))) if patient is None else patient]
        v = self.providers[int(r.integers(0, len(self.providers)))]
        if date is None:
            date = str(np.datetime64("2016-01-01") + int(r.integers(0, 3650)))
        return [
            claim_id or _uuid(r), p[0], v[0], f"{int(r.integers(100, 99999)) / 100:.2f}",
            date, f"D{int(r.integers(100, 999))}", f"P{int(r.integers(100, 999))}",
            p[1], p[2], v[1], str(r.choice(_STATUSES)), p[5], p[3], p[4], v[2],
            str(r.choice(_TYPES)), str(r.choice(_METHODS)),
        ]

    def batch(self, n_valid: int, share_dup: float, share_malformed: float,
              share_bad: float) -> tuple[list[list[str]], dict[str, int], list[list[str]]]:
        """``n_valid`` fresh valid claims plus the three quarantine
        kinds. Returns (all rows in delivery order, split counts, the
        surviving valid rows)."""
        r = self.rng
        valid = [self.row() for _ in range(n_valid)]
        rows = list(valid)
        n_dup = int(n_valid * share_dup)
        for k in range(n_dup):
            # an older copy of a valid claim: the newer date survives
            old = list(valid[k])
            old[4] = str(np.datetime64(old[4]) - int(r.integers(1, 300)))
            rows.append(old)
        n_mal = int(n_valid * share_malformed)
        for k in range(n_mal):
            bad = self.row()
            if k % 2:
                bad[3] = "not_a_number"
            else:
                bad[4] = "31-31-2024"
            rows.append(bad)
        n_bad = int(n_valid * share_bad)
        for k in range(n_bad):
            bad = self.row()
            idx, val = _VIOLATIONS[k % len(_VIOLATIONS)]
            bad[idx] = f"bad-claim-{_uuid(r)[:8]}" if val is None else val
            if k % 7 == 0:  # a second violation: ';'-joined reasons
                bad[16] = "Fax"
            rows.append(bad)
        order = r.permutation(len(rows))
        rows = [rows[i] for i in order]
        split = {"valid": n_valid, "duplicates": n_dup, "malformed": n_mal, "bad_quality": n_bad}
        return rows, split, valid


def _write_csv(path: str, rows: list[list[str]], mtime: float) -> int:
    with open(path, "w") as fh:
        fh.write(CLAIMS_HEADER + "\n")
        fh.writelines(",".join(r) + "\n" for r in rows)
    os.utime(path, (mtime, mtime))
    return os.path.getsize(path)


def write_claims_deliveries(out_dir: str, seed: int, n_claims: int) -> tuple[Delivery, Delivery]:
    """Delivery 1 lands ``n_claims`` valid claims (plus 5% older
    duplicates, 2% malformed and 4% bad-quality rows) into an empty
    lake. Delivery 2 overlaps it: a fifth of delivery 1's claims
    resent unchanged, a tenth resent with a changed status and amount,
    ``n_claims // 4`` new claims, and the same quarantine shares."""
    os.makedirs(out_dir, exist_ok=True)
    g = ClaimsGenerator(seed, n_patients=max(10, n_claims // 3))

    rows1, split1, valid1 = g.batch(n_claims, 0.05, 0.02, 0.04)
    pats1 = {v[1] for v in valid1}
    provs1 = {v[2] for v in valid1}
    d1 = Delivery(
        os.path.join(out_dir, "claims_1.csv"), 0, split1,
        {"Claims": (len(valid1), 0), "Patients": (len(pats1), 0),
         "Providers": (len(provs1), 0), "Dates": (5844, 0)},
    )
    d1.bytes = _write_csv(d1.path, rows1, 1_700_000_000)

    n_new = n_claims // 4
    rows2, split2, valid2 = g.batch(n_new, 0.05, 0.02, 0.04)
    pick = g.rng.permutation(len(valid1))
    same = [list(valid1[i]) for i in pick[: n_claims // 5]]
    changed = []
    for i in pick[n_claims // 5: n_claims // 5 + n_claims // 10]:
        c = list(valid1[i])
        c[10] = _STATUSES[(_STATUSES.index(c[10]) + 1) % len(_STATUSES)]
        c[3] = f"{float(c[3]) + 1.0:.2f}"
        changed.append(c)
    rows2 = rows2 + same + changed
    rows2 = [rows2[i] for i in g.rng.permutation(len(rows2))]
    split2 = dict(split2, valid=split2["valid"] + len(same) + len(changed))
    new_pats = {v[1] for v in valid2} - pats1
    new_provs = {v[2] for v in valid2} - provs1
    d2 = Delivery(
        os.path.join(out_dir, "claims_2.csv"), 0, split2,
        {"Claims": (len(valid2), len(changed)), "Patients": (len(new_pats), 0),
         "Providers": (len(new_provs), 0), "Dates": (0, 0)},
    )
    d2.bytes = _write_csv(d2.path, rows2, 1_700_003_600)
    return d1, d2


# -- serving corpus ----------------------------------------------------------


@dataclass
class Corpus:
    """Documents and their embeddings (one vector per document,
    ``vec_id == doc_id``) cut into seeded increments."""

    docs_path: str
    vecs_path: str
    bytes: int
    increments: list[list[int]]  # doc ids per increment, apply order
    tokens: dict[int, list[str]]  # doc id -> whitespace tokens
    vectors: np.ndarray  # row i = unit vector of doc i (float32)


def write_corpus(out_dir: str, seed: int, n_docs: int, n_increments: int) -> Corpus:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    docs = documents(rng, n_docs)
    vecs = embeddings(rng, n_docs)
    order = rng.permutation(n_docs)
    inc = np.empty(n_docs, dtype=np.int32)
    for k, part in enumerate(np.array_split(order, n_increments)):
        inc[part] = k
    docs["inc"] = pa.array(inc)
    vecs["doc_id"] = vecs["vec_id"]
    vecs["inc"] = pa.array(inc)
    dp, vp = os.path.join(out_dir, "documents.parquet"), os.path.join(out_dir, "embeddings.parquet")
    size = _write(docs, dp) + _write(vecs, vp)
    return Corpus(
        dp, vp, size,
        [sorted(int(i) for i in np.flatnonzero(inc == k)) for k in range(n_increments)],
        {i: t.split() for i, t in enumerate(docs["text"].to_pylist())},
        np.stack(vecs["embedding"].to_numpy(zero_copy_only=False)),
    )
