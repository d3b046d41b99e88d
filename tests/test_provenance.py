"""Fingerprint-keyed verified stamps (plans/provenance.py): editing a plan
module OR an operator it imports must invalidate the affected queries'
verified status, so the driver's bounded-prefix gate re-checks them
(the ADVICE r3 steering hazard)."""

from __future__ import annotations

import json
import shutil

from etl_from_s3_to_postgresql_template_spark.plans import QUERIES, provenance


def test_every_registered_query_has_a_fingerprint():
    fps = provenance.fingerprint_all()
    missing = set(QUERIES) - set(fps)
    assert not missing, f"queries with no @query-site fingerprint: {sorted(missing)}"


# (module edited, queries whose fingerprint must change, queries whose
# fingerprint must not). The foldvec and bloom edits are reached only
# through another in-package module (operators/similarity,
# streaming/bloom_state), so they pin the TRANSITIVE import closure.
_PLANTED_EDITS = [
    (
        "operators/dedup.py",
        ["dedup_minhash_pairs", "dedup_fuzzy_levenshtein"],
        ["q1_pricing_summary"],
    ),
    ("functions/foldvec.py", ["similarity_topk_ivf"], ["q1_pricing_summary"]),
    (
        "operators/bloom.py",
        [
            "streaming_bloom_paragraph_dedup",
            "corpus_prep_funnel4_bloom",
            "docs_bloom_paragraph_dedup",
        ],
        ["q1_pricing_summary"],
    ),
    ("plans/query_pack.py", ["q1_pricing_summary"], []),
]


def test_editing_an_operator_invalidates_its_queries(tmp_path):
    pkg_src = provenance._pkg_root(None)
    pkg_dst = tmp_path / provenance._PKG
    shutil.copytree(pkg_src, pkg_dst)

    for rel, changed, kept in _PLANTED_EDITS:
        before = provenance.fingerprint_all(tmp_path)
        with open(pkg_dst / rel, "a") as f:
            f.write("\n# planted edit\n")
        after = provenance.fingerprint_all(tmp_path)
        for name in changed:
            assert before[name] != after[name], (rel, name)
        for name in kept:
            assert before[name] == after[name], (rel, name)


def test_verified_names_only_contains_fingerprint_matches():
    stamps = json.loads(provenance.STAMPS_FILE.read_text())
    current = provenance.fingerprint_all()
    valid = provenance.verified_names()
    assert valid <= set(stamps)
    for n in valid:
        assert current[n] == stamps[n]
    # a stamped name whose source changed this round must NOT be valid
    mismatched = {n for n in stamps if current.get(n) != stamps[n]}
    assert not (mismatched & valid)
