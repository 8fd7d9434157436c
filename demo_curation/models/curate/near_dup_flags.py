from dbt_core_gcloud_template_spark.operators import dedup


def model(dbt, session):
    """Near-duplicate canonicalization over the exact-deduped corpus:
    MinHash signatures -> banded LSH candidate pairs -> one round of
    min-propagation (star clusters resolve; the corpus-scale chained
    case runs dedup.connected_components offline).  Only signatures and
    narrow (band, sig) keys shuffle — document text never leaves the
    first map stage.  lsh_max_bucket_size (var) fences degenerate
    bands; tripped fences land in this node's run_results record."""
    dbt.config(materialized="table")
    kept = dbt.ref("docs_kept")
    sigs = dedup.minhash_signatures(kept, "doc_id", "text", k_shingle=3, n_hashes=8)
    # absent var -> UNSET (profile decides); configured null -> an
    # explicit None (consciously unfenced, warned under strict)
    from dbt_core_gcloud_template_spark.operators.fences import UNSET

    cap = dbt.config.get("lsh_max_bucket_size", UNSET)
    pairs = dedup.lsh_candidate_pairs(
        sigs,
        "doc_id",
        [[0, 1], [2, 3], [4, 5], [6, 7]],
        max_bucket_size=int(cap) if cap not in (None, UNSET) else cap,
    )
    return dedup.canonical_ids(kept.select("doc_id"), pairs, "doc_id")
