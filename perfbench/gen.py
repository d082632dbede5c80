"""Seeded input generator shared by the workloads.

Every generator takes a ``numpy.random.Generator`` and returns plain
pandas frames plus the *planted truth* the output checks compare
against. Nothing here touches Spark: the engine only ever sees the files
the workloads write from these frames.

Planted structure, per input family:

- CRM/ERP extracts (``crm_erp``) carry every anomaly class of
  ``FIXTURES.md`` section B at fixed rates: stale duplicate and NULL
  ``cst_id`` rows, padded names and codes, NAS-prefixed and hyphenated
  ERP ids, future birthdates, 0 and 6-digit integer dates, NULL and
  inconsistent sales, NULL and negative prices, zero quantities,
  orphan foreign keys and unmatched product categories.
- Documents (``DocumentMaker``, ``document_batch``) have planted near
  duplicates of the indexed corpus and of earlier rows of their batch (a
  copy differs from its source only in its last word, so its
  word-shingle Jaccard is about 0.98), and a hot-boilerplate share: a
  tenth of the documents open with one shared 40-word block, which puts
  them together in the same LSH buckets without making them near
  duplicates, so a ``max_bucket_size`` cap engages.
- Fingerprints (``fingerprints``) are random 64-bit values with planted
  neighbours 1 to 3 bits away.
- Embeddings (``MixtureMaker``) are a 64-dim Gaussian mixture.
- Entity records (``entities``) are names with one-character typo
  variants, blocked by a clean ``zip`` column.

Ids always increase in generation order and a planted copy is generated
after its original, so "which row is dropped" is the higher id, the rule
every dedup operator here follows.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# --------------------------------------------------------------- CRM/ERP

_FIRST = ["Jon", "Elizabeth", "Lauren", "Ian", "Chloe", "Kyle", "Ruben",
          "Shelby", "Marco", "Mia", "Oscar", "Priya", "Tomas", "Yuki"]
_LAST = ["Yang", "Huang", "Torres", "Johnson", "Nara", "Ward", "Diaz",
         "Patel", "Moreau", "Weber", "Kim", "Silva", "Novak", "Okafor"]
_CAT_A = ["AC", "BI", "CL", "CO"]
_CAT_B = ["BR", "BC", "CL", "CH", "FE", "HE", "HP", "LI", "LO", "PA", "PD",
          "PU", "ST", "TL", "TT", "BS"]
_COUNTRIES = ["DE", "Germany", "US", "USA", "United States", "Australia",
              "France", "United Kingdom", "Canada", "", "  ", None]

# share of rows per sales anomaly class; the classes are exclusive, so
# every row has at most one defect and the repair rules can fix it
SALES_ANOMALIES = {
    "wrong_sales": 0.02,
    "null_sales": 0.015,
    "nonpositive_sales": 0.005,
    "null_price": 0.015,
    "negative_price": 0.01,
    "zero_quantity": 0.005,
}
BAD_ORDER_DATE_RATE = 0.02  # half 0, half 6-digit
STALE_DUP_RATE = 0.05
NULL_ID_RATE = 0.002
ORPHAN_RATE = 0.01
PAD_RATE = 0.03  # names with leading and trailing blanks

# documents: shares of a micro-batch that are near copies of the corpus
# or of an earlier row of the batch, and the hot-boilerplate share of
# both the corpus and the batches
DOC_CORPUS_DUP_RATE = 0.1
DOC_BATCH_DUP_RATE = 0.05
BOILERPLATE_RATE = 0.1
# fingerprints: share of seed values followed by planted neighbours, and
# the near-copy shares of a micro-batch
FP_NEIGHBOR_RATE = 0.1
FP_CORPUS_DUP_RATE = 0.1
FP_BATCH_DUP_RATE = 0.05
MIXTURE_DIM = 64
MIXTURE_CENTRES = 16
ENTITIES_PER_BLOCK = 6


def _pick(rng, values, p, n):
    idx = rng.choice(len(values), size=n, p=p)
    return [values[i] for i in idx]


def _pad(rng, names: list[str]) -> list[str]:
    mask = rng.random(len(names)) < PAD_RATE
    return [f"  {s} " if m else s for s, m in zip(names, mask)]


def _dates(base: dt.date, offsets) -> list[dt.date]:
    return [base + dt.timedelta(days=int(o)) for o in offsets]


def _yyyymmdd(d: dt.date) -> int:
    return d.year * 10000 + d.month * 100 + d.day


def crm_erp(rng: np.random.Generator, n_customers: int, n_products: int,
            n_sales: int) -> tuple[dict[str, pd.DataFrame], dict]:
    """The six source extracts (keyed by the pipeline's source-node
    names, columns in ``REFERENCE_SCHEMAS`` order) and their truth:
    ``customers`` and ``products`` (rows the gold dims must hold),
    ``sales`` (fact rows) and ``bad_order_dates`` (fact rows whose
    ``order_date`` must come out NULL)."""
    ids = np.arange(1, n_customers + 1)
    keys = [f"AW{i + 10000:08d}" for i in ids]
    created = rng.integers(300, 2000, n_customers)
    cust = pd.DataFrame({
        "cst_id": ids,
        "cst_key": keys,
        "cst_firstname": _pad(rng, _pick(rng, _FIRST, None, n_customers)),
        "cst_lastname": _pad(rng, _pick(rng, _LAST, None, n_customers)),
        "cst_marital_status": _pick(rng, ["S", "M", None, " S"], [.45, .45, .05, .05], n_customers),
        "cst_gndr": _pick(rng, ["F", "M", None, "f ", ""], [.45, .45, .04, .03, .03], n_customers),
        "cst_create_date": _dates(dt.date(2020, 1, 1), created),
    })
    # stale duplicates: an older row for the same id, which dedup-latest drops
    stale = cust[rng.random(n_customers) < STALE_DUP_RATE].copy()
    stale["cst_create_date"] = [
        d - dt.timedelta(days=int(k))
        for d, k in zip(stale["cst_create_date"], rng.integers(1, 300, len(stale)))
    ]
    stale["cst_marital_status"] = _pick(rng, ["S", "M"], None, len(stale))
    n_null = max(1, int(n_customers * NULL_ID_RATE))
    nulls = pd.DataFrame({
        "cst_id": [None] * n_null,
        "cst_key": _pick(rng, ["PO25", "SF566", None], None, n_null),
        "cst_firstname": [None] * n_null,
        "cst_lastname": [None] * n_null,
        "cst_marital_status": [None] * n_null,
        "cst_gndr": [None] * n_null,
        "cst_create_date": _dates(dt.date(2021, 1, 1), rng.integers(0, 300, n_null)),
    })
    cust_all = pd.concat([cust, stale, nulls], ignore_index=True)
    cust_all["cst_id"] = cust_all["cst_id"].astype("Int64")
    cust_all = cust_all.iloc[rng.permutation(len(cust_all))].reset_index(drop=True)

    cats = [f"{a}-{b}" for a in _CAT_A for b in _CAT_B][:30]
    # the last three categories are missing from the ERP category table
    px_cat = pd.DataFrame({
        "id": [c.replace("-", "_") for c in cats[:-3]],
        "cat": [{"AC": "Accessories", "BI": "Bikes", "CL": "Clothing",
                 "CO": "Components"}[c[:2]] for c in cats[:-3]],
        "subcat": [f"Sub {c[3:]}" for c in cats[:-3]],
        "maintenance": _pick(rng, ["Yes", "No"], None, len(cats) - 3),
    })
    prd_rows = []
    prd_numbers = []
    prd_id = 200
    for j in range(n_products):
        cat = cats[int(rng.integers(len(cats)))]
        number = f"{''.join(rng.choice(LETTERS, 2)).upper()}-{j:04d}"
        prd_numbers.append(number)
        start = dt.date(2003, 7, 1) + dt.timedelta(days=int(rng.integers(0, 2000)))
        for _ in range(int(rng.choice([1, 2, 3], p=[.5, .3, .2]))):
            prd_rows.append({
                "prd_id": prd_id,
                "prd_key": f"{cat}-{number}",
                "prd_nm": f"Product {number}",
                "prd_cost": None if rng.random() < 0.02 else int(rng.integers(10, 2000)),
                "prd_line": _pick(rng, ["M", "R", "S", "T", None, "R "],
                                  [.25, .25, .2, .2, .05, .05], 1)[0],
                "prd_start_dt": start,
                # the source end date is unreliable; silver recomputes it
                "prd_end_dt": None if rng.random() < 0.5 else start - dt.timedelta(days=10),
            })
            prd_id += 1
            start += dt.timedelta(days=int(rng.integers(30, 400)))
    prd = pd.DataFrame(prd_rows)
    prd["prd_cost"] = prd["prd_cost"].astype("Int64")
    prd = prd.iloc[rng.permutation(len(prd))].reset_index(drop=True)

    order = _dates(dt.date(2010, 12, 29), rng.integers(0, 1500, n_sales))
    order_int = np.array([_yyyymmdd(d) for d in order], dtype=np.int64)
    ship_int = [_yyyymmdd(d + dt.timedelta(days=7)) for d in order]
    due_int = [_yyyymmdd(d + dt.timedelta(days=12)) for d in order]
    bad = rng.random(n_sales) < BAD_ORDER_DATE_RATE
    zero = bad & (rng.random(n_sales) < 0.5)
    order_int = np.where(zero, 0, np.where(bad, order_int // 100, order_int))
    qty = rng.integers(1, 5, n_sales).astype(object)
    price = rng.integers(2, 2500, n_sales).astype(object)
    sales = (np.array(qty, dtype=np.int64) * np.array(price, dtype=np.int64)).astype(object)
    kinds = list(SALES_ANOMALIES)
    p = np.array([SALES_ANOMALIES[k] for k in kinds] + [1 - sum(SALES_ANOMALIES.values())])
    kind = rng.choice(len(p), size=n_sales, p=p)
    for k, name in enumerate(kinds):
        m = np.flatnonzero(kind == k)
        if name == "wrong_sales":
            sales[m] = sales[m] + rng.integers(1, 50, len(m))
        elif name == "null_sales":
            sales[m] = None
        elif name == "nonpositive_sales":
            sales[m] = -rng.integers(0, 10, len(m))
        elif name == "null_price":
            price[m] = None
        elif name == "negative_price":
            price[m] = -np.array(price[m], dtype=np.int64)
        elif name == "zero_quantity":
            qty[m] = 0
    prd_key = np.array(prd_numbers, dtype=object)[rng.integers(0, n_products, n_sales)]
    prd_key[rng.random(n_sales) < ORPHAN_RATE] = "ZZ-9999"
    cust_id = rng.integers(1, n_customers + 1, n_sales)
    orphan = rng.random(n_sales) < ORPHAN_RATE
    cust_id[orphan] = n_customers + rng.integers(1, 1000, int(orphan.sum()))
    sales_df = pd.DataFrame({
        "sls_ord_num": [f"SO{43697 + i // 3:07d}" for i in range(n_sales)],
        "sls_prd_key": prd_key,
        "sls_cust_id": cust_id,
        "sls_order_dt": order_int,
        "sls_ship_dt": ship_int,
        "sls_due_dt": due_int,
        "sls_sales": pd.array(list(sales), dtype="Int64"),
        "sls_quantity": pd.array(list(qty), dtype="Int64"),
        "sls_price": pd.array(list(price), dtype="Int64"),
    })

    az12_ids = [f"NAS{k}" if r < 0.6 else k for k, r in zip(keys, rng.random(n_customers))]
    future = rng.random(n_customers) < 0.01
    bdate = _dates(dt.date(1940, 1, 1), rng.integers(0, 24000, n_customers))
    bdate = [dt.date(2035, 1, 1) + dt.timedelta(days=int(i)) if f else d
             for d, f, i in zip(bdate, future, rng.integers(0, 999, n_customers))]
    az12 = pd.DataFrame({
        "cid": az12_ids,
        "bdate": bdate,
        "gen": _pick(rng, ["F", "M", "Female", "Male", "", None, "F "],
                     [.3, .3, .15, .15, .04, .03, .03], n_customers),
    })
    loc = pd.DataFrame({
        "cid": [f"{k[:2]}-{k[2:]}" for k in keys],
        "cntry": _pick(rng, _COUNTRIES, None, n_customers),
    })
    tables = {
        "crm_cust_info": cust_all,
        "crm_prd_info": prd,
        "crm_sales_details": sales_df,
        "erp_cust_az12": az12.iloc[rng.permutation(n_customers)].reset_index(drop=True),
        "erp_loc_a101": loc.iloc[rng.permutation(n_customers)].reset_index(drop=True),
        "erp_px_cat_g1v2": px_cat,
    }
    truth = {
        "customers": n_customers,
        "products": n_products,
        "sales": n_sales,
        "bad_order_dates": int(bad.sum()),
    }
    return tables, truth


# ------------------------------------------------------------- documents


def vocabulary(rng: np.random.Generator, size: int = 20000) -> np.ndarray:
    """Distinct random lowercase words of 3 to 9 letters."""
    words: set[str] = set()
    while len(words) < size:
        n = size - len(words)
        lengths = rng.integers(3, 10, n)
        letters = rng.choice(LETTERS, (n, 9))
        words.update("".join(row[:k]) for row, k in zip(letters, lengths))
    return np.array(sorted(words), dtype=object)


class DocumentMaker:
    """Makes document texts from one vocabulary and one boilerplate
    block, so every batch of a run shares the same hot block."""

    def __init__(self, rng: np.random.Generator, vocab_size: int = 20000):
        self.rng = rng
        self.vocab = vocabulary(rng, vocab_size)
        self.boilerplate = " ".join(self.vocab[rng.integers(0, vocab_size, 40)])

    def fresh(self, boilerplate: bool = False) -> str:
        n = int(self.rng.integers(60, 100))
        body = " ".join(self.vocab[self.rng.integers(0, len(self.vocab), n)])
        return f"{self.boilerplate} {body}" if boilerplate else body

    @staticmethod
    def near_copy(text: str, j: int) -> str:
        """The base with its last word changed by a per-copy suffix:
        one shingle of about 95 differs, and copies never coincide."""
        head, last = text.rsplit(" ", 1)
        return f"{head} {last}q{j}"


def document_batch(rng: np.random.Generator, maker: DocumentMaker, corpus_texts: list[str],
                   n_docs: int, first_id: int) -> tuple[pd.DataFrame, set[int], set[int]]:
    """One arriving micro-batch for a standing MinHash index built over
    ``corpus_texts``: near copies of corpus documents, near copies of an
    earlier document of the same batch, boilerplate and fresh documents.
    Returns the batch, the ids incremental dedup must drop, and the
    boilerplate ids it may drop: a capped hot bucket drops its members
    without a threshold test (the documented star semantics of
    ``max_bucket_size``)."""
    ids: list[int] = []
    texts: list[str] = []
    dropped: set[int] = set()
    boiler: set[int] = set()
    for i in range(n_docs):
        doc_id = first_id + i
        r = rng.random()
        if r < DOC_CORPUS_DUP_RATE:
            src = corpus_texts[int(rng.integers(len(corpus_texts)))]
            texts.append(DocumentMaker.near_copy(src, doc_id))
            dropped.add(doc_id)
        elif r < DOC_CORPUS_DUP_RATE + DOC_BATCH_DUP_RATE and texts:
            src = texts[int(rng.integers(len(texts)))]
            texts.append(DocumentMaker.near_copy(src, doc_id))
            dropped.add(doc_id)
        else:
            texts.append(maker.fresh(boilerplate=r > 1 - BOILERPLATE_RATE))
            if r > 1 - BOILERPLATE_RATE:
                boiler.add(doc_id)
        ids.append(doc_id)
    df = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
    return df, dropped, boiler


# ---------------------------------------------------------- fingerprints


def _flip(rng: np.random.Generator, value: int) -> int:
    bits = rng.choice(64, size=int(rng.integers(1, 4)), replace=False)
    mask = 0
    for b in bits:
        mask |= 1 << int(b)
    u = (value & (2**64 - 1)) ^ mask
    return u - 2**64 if u >= 2**63 else u


def _random_fp(rng: np.random.Generator) -> int:
    return int(rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, dtype=np.int64))


def fingerprints(rng: np.random.Generator, n: int) -> tuple[pd.DataFrame, set[int]]:
    """``(doc_id, phash)``: random 64-bit fingerprints, a share of them
    followed by 1 or 2 planted neighbours 1 to 3 bits away. Returns the
    ids that Hamming dedup drops (the neighbours)."""
    ids: list[int] = []
    fps: list[int] = []
    planted: set[int] = set()
    next_id = 0
    while len(fps) < n:
        base = _random_fp(rng)
        ids.append(next_id)
        fps.append(base)
        next_id += 1
        if rng.random() < FP_NEIGHBOR_RATE:
            for _ in range(int(rng.integers(1, 3))):
                ids.append(next_id)
                fps.append(_flip(rng, base))
                planted.add(next_id)
                next_id += 1
    df = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64),
                       "phash": np.array(fps, dtype=np.int64)})
    return df, planted


def fingerprint_batch(rng: np.random.Generator, corpus_fps: np.ndarray, n: int,
                      first_id: int) -> tuple[pd.DataFrame, set[int]]:
    """One arriving micro-batch for a standing Hamming index: neighbours
    of indexed fingerprints, neighbours of an earlier batch row, and
    fresh values. Returns the batch and the ids dedup must drop."""
    fps: list[int] = []
    dropped: set[int] = set()
    for i in range(n):
        r = rng.random()
        if r < FP_CORPUS_DUP_RATE:
            fps.append(_flip(rng, int(corpus_fps[int(rng.integers(len(corpus_fps)))])))
            dropped.add(first_id + i)
        elif r < FP_CORPUS_DUP_RATE + FP_BATCH_DUP_RATE and fps:
            fps.append(_flip(rng, fps[int(rng.integers(len(fps)))]))
            dropped.add(first_id + i)
        else:
            fps.append(_random_fp(rng))
    df = pd.DataFrame({"doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
                       "phash": np.array(fps, dtype=np.int64)})
    return df, dropped


# ------------------------------------------------------------ embeddings


class MixtureMaker:
    """64-dim Gaussian mixture: fixed centres, unit-scale clusters."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.centres = rng.normal(0.0, 4.0, (MIXTURE_CENTRES, MIXTURE_DIM)).astype(np.float32)

    def sample(self, n: int, first_id: int) -> pd.DataFrame:
        which = self.rng.integers(0, len(self.centres), n)
        vecs = self.centres[which] + self.rng.normal(0.0, 1.0, (n, self.centres.shape[1]))
        return pd.DataFrame({
            "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
        })


# -------------------------------------------------------------- entities


def entities(rng: np.random.Generator, n_entities: int) -> tuple[pd.DataFrame, np.ndarray]:
    """``(id, name, zip)`` records: each entity's clean name of 12 to 18
    letters, then 0 to 2 variants with one substituted letter (edit
    similarity at least 0.94 to the clean name; unrelated names in a
    block score far below 0.9). ``zip`` is clean and shared by
    ``ENTITIES_PER_BLOCK`` entities. Returns the records and each record's
    planted entity index."""
    ids: list[int] = []
    names: list[str] = []
    zips: list[int] = []
    label: list[int] = []
    next_id = 0
    for e in range(n_entities):
        name = "".join(rng.choice(LETTERS, int(rng.integers(12, 19))))
        variants = [name]
        for _ in range(int(rng.choice([0, 1, 2], p=[.4, .4, .2]))):
            pos = int(rng.integers(len(name)))
            choices = LETTERS[LETTERS != name[pos]]
            variants.append(name[:pos] + str(rng.choice(choices)) + name[pos + 1:])
        for v in variants:
            ids.append(next_id)
            names.append(v)
            zips.append(10000 + e // ENTITIES_PER_BLOCK)
            label.append(e)
            next_id += 1
    df = pd.DataFrame({"id": np.array(ids, dtype=np.int64), "name": names,
                       "zip": np.array(zips, dtype=np.int64)})
    return df, np.array(label)
