"""Randomized store-lifecycle fuzz: seeded sequences of append /
delete / idempotent re-delete / illegal re-append / compact against
the persisted ANN indexes and the dedup signature store, with a
driver-side shadow model of the live id set.

The single-path delete tests (test_ann_store.py,
test_incremental_dedup.py) pin each transition once; this fuzz walks
random interleavings to catch interaction bugs those straight-line
sequences can't reach: tombstones leaking across a compact, appends
after compact resurrecting earlier deletes, repeat deletes
double-counting, and the re-append hazard guard (appending a
currently-tombstoned id must raise — with id-keyed tombstones there
is no correct silent behavior, see store.py
check_append).

Invariants checked after EVERY step:
- live membership (live_rows / live_store distinct ids) == the model;
- delete_keys returns exactly the newly-tombstoned count.
At the end of each run:
- probe answers with tombstones == probe answers after compaction
  (physical removal must not change answers);
- for deterministic builds (SRP banding, minhash signatures), probe
  answers == a from-scratch build on the surviving rows.
"""

from __future__ import annotations

import random

import pytest

pytestmark = pytest.mark.slow  # fuzz/streaming/scale tier: pytest -m "not slow" skips
from pyspark.sql import functions as F

from rspl_spark.operators import ann_store as A

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    from rspl_spark.catalog import load

    return load(spark, SF_DIR, "embeddings").localCheckpoint()


@pytest.fixture(scope="module")
def docs(spark):
    from rspl_spark.catalog import load

    return load(spark, SF_DIR, "documents").localCheckpoint()


def _drop_all(spark, *names):
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}__deleted")


def _ann_live_ids(spark, name):
    return {
        r["vec_id"]
        for r in A.live_rows(spark, name).select("vec_id").distinct().collect()
    }


KINDS = {
    "srp": (A.create_srp_index, A.append_index, A.srp_index_topk),
    "ivf": (A.create_ivf_index, A.append_index, A.ivf_index_topk),
}


@pytest.mark.parametrize(
    "kind,seed", [("srp", 41), ("srp", 42), ("ivf", 43)]
)
def test_ann_lifecycle_fuzz(spark, emb, kind, seed):
    create, append, topk = KINDS[kind]
    rng = random.Random(seed)
    name, ref = f"{kind}_fuzz_{seed}", f"{kind}_fuzz_{seed}_ref"
    _drop_all(spark, name, ref)
    try:
        all_ids = list(range(500))
        rng.shuffle(all_ids)
        base = set(all_ids[:200])
        pool = list(all_ids[200:])  # never-yet-ingested ids
        live = set(base)
        tombstoned: set[int] = set()
        create(spark, emb.filter(F.col("vec_id").isin(sorted(base))), name, overwrite=True)
        for step in range(8):
            op = rng.choice(
                ["append", "delete", "redelete", "illegal_reappend", "compact"]
            )
            if op == "append" and pool:
                take = [pool.pop() for _ in range(min(len(pool), rng.randint(1, 40)))]
                append(spark, emb.filter(F.col("vec_id").isin(take)), name)
                live |= set(take)
            elif op == "delete" and live:
                victims = set(
                    rng.sample(sorted(live), min(len(live), rng.randint(1, 30)))
                )
                n = A.delete_keys(spark, name, sorted(victims))
                assert n == len(victims), f"step {step}: delete count"
                live -= victims
                tombstoned |= victims
            elif op == "redelete" and tombstoned:
                again = rng.sample(sorted(tombstoned), min(3, len(tombstoned)))
                assert A.delete_keys(spark, name, again) == 0, f"step {step}"
            elif op == "illegal_reappend" and tombstoned:
                bad = rng.choice(sorted(tombstoned))
                with pytest.raises(ValueError, match="tombstoned"):
                    append(spark, emb.filter(F.col("vec_id") == int(bad)), name)
            elif op == "compact":
                A.compact_index(spark, name)
                assert A.deleted_count(spark, name) == 0
                # physically removed keys are legal to re-add
                pool.extend(sorted(tombstoned))
                rng.shuffle(pool)
                tombstoned = set()
            assert _ann_live_ids(spark, name) == live, f"step {step} op {op}"

        q = emb.filter(F.col("vec_id") % 97 == 0)
        got = [tuple(r) for r in topk(spark, name, q).collect()]
        assert got, "fuzz run ended with an empty probe — widen the query set"
        # compaction must not change answers (same trained state)
        A.compact_index(spark, name)
        assert [tuple(r) for r in topk(spark, name, q).collect()] == got
        assert _ann_live_ids(spark, name) == live
        if kind == "srp":
            # SRP banding is a pure function of config — a from-scratch
            # build on the survivors must answer identically. (IVF refits
            # centroids on the survivor distribution, so cross-build probe
            # parity is not a contract there.)
            create(spark, emb.filter(F.col("vec_id").isin(sorted(live))), ref, overwrite=True)
            want = [tuple(r) for r in topk(spark, ref, q).collect()]
            assert got == want
    finally:
        _drop_all(spark, name, ref)


def test_dedup_store_lifecycle_fuzz(spark, docs):
    from rspl_spark.operators import dedup_store as D

    rng = random.Random(44)
    name, ref = "sigstore_fuzz", "sigstore_fuzz_ref"
    _drop_all(spark, name, ref)
    try:
        all_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        rng.shuffle(all_ids)
        base = set(all_ids[:200])
        pool = list(all_ids[200:])
        live = set(base)
        tombstoned: set[int] = set()
        D.create_signature_store(
            spark, docs.filter(F.col("doc_id").isin(sorted(base))), name, overwrite=True
        )
        for step in range(8):
            op = rng.choice(
                ["append", "delete", "redelete", "illegal_reappend", "compact"]
            )
            if op == "append" and pool:
                take = [pool.pop() for _ in range(min(len(pool), rng.randint(1, 40)))]
                D.append_increment(spark, docs.filter(F.col("doc_id").isin(take)), name)
                live |= set(take)
            elif op == "delete" and live:
                victims = set(
                    rng.sample(sorted(live), min(len(live), rng.randint(1, 30)))
                )
                n = D.delete_keys(spark, name, sorted(victims))
                assert n == len(victims), f"step {step}: delete count"
                live -= victims
                tombstoned |= victims
            elif op == "redelete" and tombstoned:
                again = rng.sample(sorted(tombstoned), min(3, len(tombstoned)))
                assert D.delete_keys(spark, name, again) == 0, f"step {step}"
            elif op == "illegal_reappend" and tombstoned:
                bad = rng.choice(sorted(tombstoned))
                with pytest.raises(ValueError, match="tombstoned"):
                    D.append_increment(
                        spark, docs.filter(F.col("doc_id") == int(bad)), name
                    )
            elif op == "compact":
                D.compact_store(spark, name)
                assert D.deleted_count(spark, name) == 0
                pool.extend(sorted(tombstoned))
                rng.shuffle(pool)
                tombstoned = set()
            got_ids = {
                r["doc_id"]
                for r in D.live_store(spark, name).select("doc_id").distinct().collect()
            }
            assert got_ids == live, f"step {step} op {op}"

        # probe parity: tombstoned store == compacted store == fresh
        # build on survivors (minhash signatures are deterministic)
        probe = docs.filter(F.col("doc_id") % 7 == 0)

        def pairs(store):
            return sorted(
                tuple(r)
                for r in D.dedup_increment(spark, probe, store, threshold=0.0).collect()
            )

        got = pairs(name)
        D.compact_store(spark, name)
        assert pairs(name) == got
        D.create_signature_store(
            spark, docs.filter(F.col("doc_id").isin(sorted(live))), ref, overwrite=True
        )
        assert pairs(ref) == got
    finally:
        _drop_all(spark, name, ref)
