"""The generator is a pure function of its seed."""

import numpy as np
import pandas as pd

from perfbench import gen


def _inputs(seed: int) -> dict:
    rng = np.random.default_rng(seed)
    tables, truth = gen.crm_erp(rng, n_customers=300, n_products=20, n_sales=2000)
    maker = gen.DocumentMaker(rng, vocab_size=2000)
    docs = pd.DataFrame({"text": [maker.fresh(boilerplate=i % 10 == 0) for i in range(300)]})
    batch, dropped, boiler = gen.document_batch(rng, maker, list(docs["text"]), 50, first_id=1000)
    fps, neighbours = gen.fingerprints(rng, 500)
    fbatch, fdropped = gen.fingerprint_batch(rng, fps["phash"].to_numpy(), 100, first_id=5000)
    vecs = gen.MixtureMaker(rng).sample(100, 0)
    ents, label = gen.entities(rng, 50)
    frames = {**tables, "docs": docs, "doc_batch": batch, "fps": fps, "fp_batch": fbatch,
              "entities": ents,
              "vectors": pd.DataFrame(np.stack(vecs["embedding"].to_numpy()))}
    planted = {"truth": truth, "dropped": dropped, "boiler": boiler, "neighbours": neighbours, "fdropped": fdropped,
               "label": label.tolist()}
    return {"frames": frames, "planted": planted}


def _same(a: dict, b: dict) -> bool:
    if a["planted"] != b["planted"]:
        return False
    return all(a["frames"][k].equals(b["frames"][k]) for k in a["frames"])


def test_same_seed_same_inputs():
    assert _same(_inputs(7), _inputs(7))


def test_other_seed_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert not _same(a, b)
    assert all(not a["frames"][k].equals(b["frames"][k])
               for k in a["frames"] if k != "erp_px_cat_g1v2" or len(a["frames"][k]) > 0)


def test_planted_anomalies_present():
    rng = np.random.default_rng(3)
    tables, truth = gen.crm_erp(rng, n_customers=2000, n_products=50, n_sales=5000)
    cust = tables["crm_cust_info"]
    assert cust["cst_id"].isna().any()
    assert cust["cst_id"].dropna().duplicated().any()
    sales = tables["crm_sales_details"]
    assert (sales["sls_order_dt"] == 0).any() and (sales["sls_order_dt"] < 10**7).any()
    assert sales["sls_price"].isna().any() and (sales["sls_price"] < 0).any()
    assert (sales["sls_quantity"] == 0).any() and sales["sls_sales"].isna().any()
    assert truth["bad_order_dates"] == int((sales["sls_order_dt"] < 10**7).sum())
    assert tables["erp_cust_az12"]["cid"].str.startswith("NAS").any()


def test_fingerprint_neighbours_within_three_bits():
    fps, neighbours = gen.fingerprints(np.random.default_rng(5), 2000)
    fp = dict(zip(fps["doc_id"], fps["phash"]))
    for n in neighbours:
        base = n
        while base in neighbours:
            base -= 1
        assert 1 <= bin((int(fp[base]) ^ int(fp[n])) & (2**64 - 1)).count("1") <= 3
