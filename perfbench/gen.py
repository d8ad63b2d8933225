"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: the engine never sees the
generator, only the parquet files it writes. The same seed gives
byte-identical tables; every table also carries (or is returned with)
the true values the workload checks come from.

The document corpus follows the engine's reference ``documents`` table
at sf0.1 as measured by ``perfbench/measure_corpus.py`` (numbers in
perfbench/README.md): a 30-word vocabulary drawn uniformly, 10-100
words per document, its language shares, twenty equally large sources,
its exact-copy share and its near copies (a document plus a trailing
``dup`` word). The curation caps are set below the largest language and
below the per-source count, so they bind without added skew.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]

# Traffic dimensions of the corpus, measured on sf0.1 documents.parquet
# (5,000 rows; perfbench/README.md): en 2059, zh 753, es 744, fr 742,
# de 702; 250 rows per source; 8 exact copies; 250 near copies.
LANG_WEIGHTS = [2059, 753, 744, 742, 702]
N_SOURCES = 20  # equal counts, as measured
DUP_SHARE = 8 / 5000  # exact copies of an earlier document, new id
NEAR_SHARE = 250 / 5000  # an earlier document plus a trailing "dup"
NEAR_WORD = "dup"
WORDS_MIN, WORDS_MAX = 10, 100


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per generator, so sizes of one input never
    shift the draws of another."""
    salt = sum((i + 1) * ord(c) for i, c in enumerate(stream))
    return np.random.default_rng([int(seed), salt])


def write_table(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# Corpus (corpus_curation)
# ---------------------------------------------------------------------------


def _shuffled_counts(rng: np.random.Generator, n: int, weights) -> np.ndarray:
    """``n`` category codes in exactly the given proportions (largest
    remainder), in seeded order: every seed gets the same mix."""
    w = np.asarray(weights, dtype=float) / np.sum(weights)
    counts = np.floor(w * n).astype(int)
    counts[np.argsort(-(w * n - counts))[: n - counts.sum()]] += 1
    return rng.permutation(np.repeat(np.arange(len(w)), counts))


def corpus(seed: int, n: int) -> pa.Table:
    """``doc_id, text, lang, source, n_chars`` with the reference
    table's language and source mix and its exact and near duplicate
    shares. The seed changes the content and the order; lengths,
    duplicate counts and key mixes are the same for every seed, so
    every seed asks the same work."""
    rng = _rng(seed, "corpus")
    n_exact, n_near = round(n * DUP_SHARE), round(n * NEAR_SHARE)
    n_orig = n - n_exact - n_near
    lengths = rng.permutation(np.resize(np.arange(WORDS_MIN, WORDS_MAX + 1), n_orig))
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    # Each copy has its own original, so copies never collide with
    # each other; a copy lands before or after its original.
    src_docs = rng.choice(n_orig, n_exact + n_near, replace=False)
    texts += [texts[i] for i in src_docs[:n_exact]]
    texts += [texts[i] + " " + NEAR_WORD for i in src_docs[n_exact:]]
    texts = [texts[i] for i in rng.permutation(n)]
    lang = _shuffled_counts(rng, n, LANG_WEIGHTS)
    src = _shuffled_counts(rng, n, np.ones(N_SOURCES))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in lang], pa.string()),
            "source": pa.array([f"src{i}" for i in src], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# ---------------------------------------------------------------------------
# Labeled pages (doc_pipeline)
# ---------------------------------------------------------------------------

W2_FIELDS = [
    "EMPLOYEE_NAME", "EMPLOYEE_ADDRESS", "EMPLOYEE_SSN",
    "EMPLOYER_NAME", "EMPLOYER_ADDRESS", "EMPLOYER_FEDERAL_EIN",
    "BOX1_WAGES", "BOX2_FED_WITHHOLD", "BOX3_SS_WAGE", "BOX4_SS_WITHHOLDING",
    "BOX5_MEDICARE_WAGES", "BOX6_MEDICARE_WITHHOLDING",
    "BOX7_ALLOCATED_TIPS", "BOX8_ALLOCATED_TIPS",
    "BOX12A_CODE", "BOX12A_AMOUNT", "BOX12B_CODE", "BOX12B_AMOUNT",
    "BOX12C_CODE", "BOX12C_AMOUNT", "BOX12D_CODE", "BOX12D_AMOUNT",
    "BOX14_OTHER", "W2_YEAR",
]
PBST_FIELDS = [
    "client_name", "account_number", "total_charges", "total_credits",
    "statement_start_date", "statement_end_date", "total_due",
    "vendor_name", "account_type", "bank_name",
]
INVOICE_FIELDS = [
    "Bill Date", "Due Date", "Bill to Name", "Bill to Address",
    "Vendor Name", "Vendor Address", "Account Number", "Total Due",
    "Invoice Number",
]
DOC_TYPES = {"w2": W2_FIELDS, "pbst": PBST_FIELDS, "invoice": INVOICE_FIELDS}
#: (name field, address field) each doc type's confirmation reads.
CONFIRM_FIELDS = {
    "w2": ("EMPLOYEE_NAME", "EMPLOYEE_ADDRESS"),
    "pbst": ("client_name", None),
    "invoice": ("Bill to Name", "Bill to Address"),
}

_MONEY_WORDS = ("amount", "charges", "credits", "due", "wage", "withhold", "tips")
FIRSTS = ["William", "Robert", "Elizabeth", "Margaret", "John", "Ann", "Carlos", "Mei", "Priya"]
NICKS = {"William": "Bill", "Robert": "Bob", "Elizabeth": "Liz", "Margaret": "Peggy", "John": "Jack"}
LASTS = ["Smith", "Jones", "Taylor", "Brown", "Wilson", "Garcia", "Chen", "Patel"]
STREETS = ["Maple", "Oak", "Cedar", "Elm", "Pine"]
SUFFIXES = {"Street": "St", "Avenue": "Ave", "Road": "Rd"}
VENDORS = ["Acme Supply Co", "Globex Corp", "Initech", "Umbrella Freight"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def field_kind(field: str) -> str:
    """The normalizer family a field name selects in the extraction
    facade: the name is the only thing the facade sees."""
    lf = field.lower()
    if "date" in lf:
        return "date"
    if any(t in lf for t in _MONEY_WORDS):
        return "money"
    if "account" in lf and "number" in lf:
        return "acct"
    if "vendor" in lf and "name" in lf:
        return "vendor"
    return "plain"


def _fmt_money(cents: int) -> str:
    sign = "-" if cents < 0 else ""
    return f"{sign}${abs(cents) / 100:,.2f}"


def _render(kind: str, rng: np.random.Generator, plain: str) -> tuple[str | None, str, bool]:
    """(printed value or None for a missing line, true normalized
    value, whether the extractor can recover it)."""
    if kind == "money":
        cents = int(rng.integers(100, 10_000_000))
        raw = f"{cents // 100}.{cents % 100:02d}"
        v = int(rng.integers(0, 6))
        if v == 0:
            return raw, _fmt_money(cents), True
        if v == 1:
            return f"(${raw})", _fmt_money(-cents), True
        if v == 2:
            return f"{raw}-", _fmt_money(-cents), True
        if v == 3:
            return "N/A", _fmt_money(cents), False
        if v == 4:
            return _fmt_money(cents), _fmt_money(cents), True
        return f"{raw} CR", _fmt_money(-cents), True
    if kind == "date":
        d = dt.date(2015, 1, 1) + dt.timedelta(days=int(rng.integers(0, 3650)))
        us = f"{d.month:02d}/{d.day:02d}/{d.year}"
        v = int(rng.integers(0, 4))
        if v == 0:
            return us, us, True
        if v == 1:
            s = f"{MONTHS[d.month - 1]} {d.day}, {d.year}"
            return s, s, True
        if v == 2:
            return d.isoformat(), d.isoformat(), True
        return "99/99/9999", us, False
    if kind == "acct":
        digits = f"{int(rng.integers(0, 10_000)):04d}"
        v = int(rng.integers(0, 3))
        if v == 0:
            return f"acct {digits}", digits, False
        if v == 1:
            return f"ending in:{digits}", digits, True
        return "x" * int(rng.integers(4, 9)) + digits, digits, True
    if kind == "vendor":
        v = int(rng.integers(0, 5))
        if v == 0:
            return "CapitalOne", "Capital One", True
        if v == 1:
            return "capital  one", "Capital One", True
        if v == 2:
            return "Wells  Fargo", "Wells Fargo", True
        name = VENDORS[int(rng.integers(0, len(VENDORS)))]
        if v == 3:
            return name, name, True
        return None, name, False
    return plain, plain, True


def _person(rng: np.random.Generator) -> tuple[str, str, str, str]:
    """(canonical first, last, house number, street stem + suffix)."""
    first = FIRSTS[int(rng.integers(0, len(FIRSTS)))]
    last = LASTS[int(rng.integers(0, len(LASTS)))]
    num = str(int(rng.integers(1, 999)))
    street = f"{STREETS[int(rng.integers(0, len(STREETS)))]} {list(SUFFIXES)[int(rng.integers(0, 3))]}"
    return first, last, num, street


def pages(seed: int, n: int) -> dict:
    """Labeled W2/PBST/invoice pages in the ``FIELD: value`` line
    layout, plus everything the checks need: the long-form ground
    truth, whether each field is recoverable, and a system-of-record
    row per page with its expected number of rule matches."""
    rng = _rng(seed, "pages")
    types = list(DOC_TYPES)
    ids, dtypes, texts, sources = [], [], [], []
    gt = {"doc_id": [], "field": [], "value": [], "ok": []}
    sor = {"doc_id": [], "sor_first": [], "sor_last": [], "sor_addr": [], "n_matches": []}
    # Equal type counts for every seed: extraction work differs by type.
    order = rng.permutation(n)
    for doc_id in range(n):
        t = types[int(order[doc_id]) % len(types)]
        first, last, num, street = _person(rng)
        fv, lv, av = (int(x) for x in rng.integers(0, 3, 3))
        doc_first = NICKS.get(first, first) if fv == 1 else first
        name_f, addr_f = CONFIRM_FIELDS[t]
        lines = []
        for f in DOC_TYPES[t]:
            if f == name_f:
                plain = f"{doc_first} {last}"
            elif f == addr_f:
                plain = f"{num} {street}"
            elif "ADDRESS" in f.upper():
                plain = f"{int(rng.integers(1, 999))} {STREETS[int(rng.integers(0, 5))]} Road"
            elif "NAME" in f.upper():
                plain = VENDORS[int(rng.integers(0, len(VENDORS)))]
            else:
                plain = f"{f[:3].upper()}{int(rng.integers(0, 10**6)):06d}"
            printed, truth, ok = _render(field_kind(f), rng, plain)
            if printed is not None:
                lines.append(f"{f}: {printed}")
            gt["doc_id"].append(doc_id)
            gt["field"].append(f)
            gt["value"].append(truth)
            gt["ok"].append(ok)
        header = {"w2": "Form W-2 Wage and Tax Statement", "pbst": "ACCOUNT STATEMENT",
                  "invoice": "INVOICE"}[t]
        texts.append("\n".join([header, *lines, "Page 1 of 1"]))
        ids.append(doc_id)
        dtypes.append(t)
        sources.append(f"inbox-{t}")
        stem, suffix = street.rsplit(" ", 1)
        sor["doc_id"].append(doc_id)
        sor["sor_first"].append(first if fv < 2 else FIRSTS[(FIRSTS.index(first) + 1) % len(FIRSTS)])
        sor["sor_last"].append({0: last, 1: last.upper()}.get(lv, LASTS[(LASTS.index(last) + 1) % len(LASTS)]))
        sor["sor_addr"].append(
            {0: f"{num} {street}", 1: f"{num} {stem} {SUFFIXES[suffix]}"}.get(av, f"{int(num) + 1} {street}")
        )
        sor["n_matches"].append(int(fv < 2) + int(lv < 2) + int(av < 2 and addr_f is not None))
    docs = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "doc_type": pa.array(dtypes, pa.string()),
            "text": pa.array(texts, pa.string()),
            "source": pa.array(sources, pa.string()),
        }
    )
    return {
        "docs": docs,
        "gt": pa.table(
            {
                "doc_id": pa.array(gt["doc_id"], pa.int64()),
                "field": pa.array(gt["field"], pa.string()),
                "value": pa.array(gt["value"], pa.string()),
            }
        ),
        "gt_ok": list(zip(gt["field"], gt["ok"])),
        "sor": pa.table(
            {
                "doc_id": pa.array(sor["doc_id"], pa.int64()),
                "sor_first": pa.array(sor["sor_first"], pa.string()),
                "sor_last": pa.array(sor["sor_last"], pa.string()),
                "sor_addr": pa.array(sor["sor_addr"], pa.string()),
            }
        ),
        "n_matches": dict(zip(sor["doc_id"], sor["n_matches"])),
    }


def expected_report(gt_ok: list[tuple[str, bool]]) -> dict[str, tuple[int, int]]:
    """field → (n_correct, support) implied by the generator's
    variants, with the ``Overall`` row."""
    out: dict[str, list[int]] = {}
    for f, ok in gt_ok:
        for key in (f, "Overall"):
            c = out.setdefault(key, [0, 0])
            c[0] += int(ok)
            c[1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}


# ---------------------------------------------------------------------------
# Certified-query tables (traced runs)
# ---------------------------------------------------------------------------


def supplier(seed: int, n: int) -> pa.Table:
    """The reference ``supplier`` schema: key, name, nation 0-24 and a
    two-decimal account balance in [-999.99, 9999.99]."""
    rng = _rng(seed, "supplier")
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n) / 100.0, pa.float64()),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """The reference ``embeddings`` schema: unit-norm float32 vectors
    around ``n_labels`` seeded centroids, with their label."""
    rng = _rng(seed, "embeddings")
    centers = rng.normal(size=(n_labels, dim))
    label = rng.integers(0, n_labels, n)
    v = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
