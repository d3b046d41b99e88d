"""Named query plans: the driver-contract surface.

``registry.QUERIES`` maps query-name -> (spark, sf_dir) -> DataFrame;
``registry.ORACLE`` maps query-name -> equivalent DuckDB SQL. Import the
submodules for their registration side effects.
"""

# Registration order matters only as a TIE-BREAK since round 11: the
# rotation below orders the driver-green tier by per-NAME driver-evidence
# age (the stamp ledger's driver_round), so module import order no longer
# decides which entries reach the driver's bounded prefix. Import order is
# kept newest-module-first for readability; the fingerprint tiers in
# _rotate_unverified_first still dominate — any edited module jumps the
# queue no matter where it imports.
from etl_from_s3_to_postgresql_template_spark.plans import registry
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops15  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops14  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops13  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops12  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import core_ops2  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import core_ops  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import query_pack  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import corpus_ops  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import streaming_ops  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import multimodal_ops  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops3  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import analytics_ops  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops2  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops4  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops5  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops6  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops7  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops8  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import query_pack_tpch2  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import query_pack_ext  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import multimodal_ops2  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops9  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops10  # noqa: F401
from etl_from_s3_to_postgresql_template_spark.plans import llm_ops11  # noqa: F401

# The driver's correctness gate verifies a bounded prefix (~50) of the
# registry each round, so after module registration we rotate queries the
# driver most needs to (re-)check to the front. Verified status is NOT a
# hardcoded name list: plans/provenance.py keys it on a fingerprint of each
# query's source (plan module + every in-package module it reaches
# through imports, transitively), stamped
# from the git tree the driver actually verified
# (tools/stamp_verified.py -> _verified_stamps.json). Editing a plan, its
# inline oracle, or an operator it uses changes the fingerprint and drops
# the query back into the checked prefix automatically — verification can
# never be steered away from re-checking modified code (ADVICE.md r3).
#
# Three tiers, registration order preserved within each:
#   1. never driver-green (new queries, or sampled-and-failed — none so far);
#   2. driver-green once but source changed since (stamp mismatch);
#   3. driver-green and untouched (re-checking these is the lowest value).
from etl_from_s3_to_postgresql_template_spark.plans import provenance


def _rotate_unverified_first() -> None:
    import json

    stamped = (
        set(json.loads(provenance.STAMPS_FILE.read_text()))
        if provenance.STAMPS_FILE.exists()
        else set()
    )
    valid = provenance.verified_names()
    # Within the driver-green-and-untouched tier, order by the AGE of the
    # driver evidence (stamp ledger's driver_round, recorded by
    # tools/stamp_verified.py from the CORRECTNESS_rN file names) so the
    # bounded prefix re-ratifies oldest-evidence entries first at NAME
    # granularity — module import order alone wastes prefix slots when a
    # module mixes just-ratified and stale-vintage entries (query_pack:
    # 21 r10 + 5 r1). Missing ledger/round -> 0 (oldest, checked first).
    meta_file = provenance.META_FILE
    meta = json.loads(meta_file.read_text()) if meta_file.exists() else {}
    vintage = {n: m.get("driver_round", 0) for n, m in meta.items()}
    tier = {n: (0 if n not in stamped else (2 if n in valid else 1)) for n in registry.QUERIES}
    ordered = sorted(  # stable: registration order breaks ties
        registry.QUERIES,
        key=lambda n: (tier[n], vintage.get(n, 0) if tier[n] == 2 else 0),
    )
    for mapping in (registry.QUERIES, registry.ORACLE):
        snapshot = {n: mapping[n] for n in ordered if n in mapping}
        mapping.clear()
        mapping.update(snapshot)


_rotate_unverified_first()

QUERIES = registry.QUERIES
ORACLE = registry.ORACLE

__all__ = ["QUERIES", "ORACLE", "registry"]
