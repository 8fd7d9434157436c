from pyspark.sql import functions as F

from dbt_core_gcloud_template_spark.operators import similarity


def model(dbt, session):
    """SemDeDup over the exact-deduped survivors — the SEMANTIC dedup
    granularity running through the engine materialization path (the
    curation funnel's fourth tier beside whole-doc exact, LSH near-dup,
    and ExactSubstr spans).  Embeddings join in from the external
    vectors source (vec_id == doc_id).

    The codebook is vars-parameterized like the fences
    (``semantic_codebook``):

    - ``trained`` (default): fit real k-means over the surviving
      vectors (operators/similarity.py:kmeans_fit — the distributed
      Lloyd's trainer, ``semantic_kmeans_iters`` iterations).  The
      stand-in centroids this stage used before priced out at recall
      ≈0.29 on testdata (semdedup_recall_eval); the trained codebook is
      what the production loop should assign against.  The fitted
      centroids stay on the driver and ride the assignment as plan
      literals — no codebook table to pack and broadcast.
    - ``standin``: the n_lists smallest SURVIVING vectors — the
      deterministic zero-training fallback, kept for oracle-style
      reproducibility without a fit job.

    The max_cluster_size fence is ARMED via vars in split mode — a
    degenerate cluster re-buckets by sign probe instead of hogging one
    task — and any trip lands in this node's run_results `fences`
    record (and a fence-tripped alert).

    Output: doc_id, list_id, canonical_id, is_duplicate.
    """
    from dbt_core_gcloud_template_spark.operators.similarity import (
        codebook_centroids,
    )

    dbt.config(materialized="table")
    kept = dbt.ref("docs_kept").select("doc_id")
    emb = (
        dbt.source("raw", "embeddings")
        .join(kept, F.col("vec_id") == F.col("doc_id"), "inner")
        .select("vec_id", "embedding")
        # Materialize the gated training set ONCE: the trainer's
        # driver loop runs one job per Lloyd iteration plus the init
        # sample, and the assignment pass runs once more — without the
        # checkpoint EVERY one of those jobs re-executes the
        # embeddings ⋈ kept join (the standard persist-the-training-set
        # discipline for iterative fitters; see customer_rfm's rank
        # passes).
        .localCheckpoint(eager=True)
    )
    n_lists = int(dbt.config.get("semantic_n_lists", 8))
    cents = codebook_centroids(
        emb,
        "vec_id",
        "embedding",
        mode=str(dbt.config.get("semantic_codebook", "trained")),
        k=n_lists,
        iters=int(dbt.config.get("semantic_kmeans_iters", 3)),
    )
    # An unconfigured cap stays UNSET (not an explicit None) so the
    # strict-fence profile can supply its production default; a var
    # CONFIGURED null is the user consciously disabling the fence.
    from dbt_core_gcloud_template_spark.operators.fences import UNSET

    cap = dbt.config.get("semantic_max_cluster_size", UNSET)
    flags = similarity.semdedup(
        emb,
        "vec_id",
        "embedding",
        n_lists=n_lists,
        threshold=float(dbt.config.get("semantic_threshold", 0.95)),
        max_cluster_size=int(cap) if cap not in (None, UNSET) else cap,
        on_oversize="split",
        split_planes=4,
        dim=int(dbt.config.get("embedding_dim", 64)),
        centroids=cents,
    )
    return flags.select(
        F.col("vec_id").alias("doc_id"), "list_id", "canonical_id",
        "is_duplicate",
    )
