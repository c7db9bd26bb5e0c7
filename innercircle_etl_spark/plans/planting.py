"""Single source of truth for the synthetic duplicate-planting
constants shared by the dedup/ANN query builders AND their oracle
SQL strings.

The synthetic corpus has no organic duplicates, so each dedup/ANN
query plants deterministic copies before running its operator (see
dedup_queries module doc). The modulus and id offset must be spelled
identically on the Spark side (Python expressions) and the DuckDB
side (oracle SQL literals); before round 5 each site duplicated the
literal with a keep-in-sync comment (the footgun documented at
dedup_queries.py:10-17). Now both sides format from here.

The plantings: identical copies, ' zzz' near-dups and same-length
one-char mutations of documents; 1.5x-scaled copies of vectors; and
the perturbed plant, a ±eps shift of two coordinates of a vector
(``perturbed_vectors_sql`` / ``perturbed_vectors``), which the
margin-multiprobe dedups plant into the corpus and the semantic
decontamination plants into the train side as leaked eval vectors.
"""

from __future__ import annotations

# Every Nth document gets an IDENTICAL copy (exact dedup family).
DOC_EXACT_MOD = 20

# Every Nth document gets a ' zzz'-suffixed NEAR-duplicate
# (minhash / simhash / ngram / cluster / edit-distance families).
DOC_NEAR_MOD = 25

# Every Nth embedding vector gets a 1.5x-scaled copy (cosine ~1).
VEC_SCALE_MOD = 50

# Every Nth vector seeds the deterministic sampled ANN codebook
# (ann_ivf_probe and the Lloyd init) — not a planted duplicate, but
# the same spell-it-in-both-languages contract applies.
CODEBOOK_MOD = 97

# Planted copies live at original id + this offset, so pair results
# are self-describing: (x, x + PLANT_ID_OFFSET).
PLANT_ID_OFFSET = 100000

# Step of the two-coordinate perturbation (±eps on two dims of a
# vector). Small against the ~1.7 vector norm, so a planted copy keeps
# cosine >= 0.999, but a projection near a hyperplane CAN change
# sign — exactly the case plain sign-bucketing misses.
VEC_PERTURB_EPS = 0.05


# ------------------------------------------------- both-language forms
# Each planting has a DuckDB CTE body and a DataFrame transform that
# are kept adjacent HERE, formatted from the same constants above.

DOC_EXACT_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {PLANT_ID_OFFSET}, text FROM documents
    WHERE doc_id % {DOC_EXACT_MOD} = 0"""

DOC_NEAR_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {PLANT_ID_OFFSET}, text || ' zzz' FROM documents
    WHERE doc_id % {DOC_NEAR_MOD} = 0"""

# Same-LENGTH single-char mutation (perceptual-hash family): block
# hashes are robust to byte edits but not to length changes (block
# boundaries are L-relative), so this planting keeps L fixed —
# exactly the invariance a blockhash is designed for.
DOC_MUT_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {PLANT_ID_OFFSET},
           substr(text, 1, 4) || 'q' || substr(text, 6) FROM documents
    WHERE doc_id % {DOC_NEAR_MOD} = 0"""

VEC_SCALE_CORPUS_SQL = f"""
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
    UNION ALL
    SELECT vec_id + {PLANT_ID_OFFSET},
           list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.5)
    FROM embeddings WHERE vec_id % {VEC_SCALE_MOD} = 0"""


def perturbed_vectors_sql(mod: int) -> str:
    """Planted copies (vec_id + PLANT_ID_OFFSET, v) of every
    ``mod``-th embedding: +eps on dim vec_id % 64, -eps on dim
    (7 * vec_id) % 64, the first WHEN winning when the dims coincide.
    ``oid`` keeps the ORIGINAL id visible: DuckDB's lateral aliases
    would otherwise resolve vec_id inside the transform to the shifted
    output id and perturb the wrong dims."""
    return f"""
    SELECT oid + {PLANT_ID_OFFSET},
           list_transform(generate_series(1, len(v)),
               i -> CASE WHEN i = (oid % 64) + 1 THEN v[i] + {VEC_PERTURB_EPS}
                         WHEN i = ((oid * 7) % 64) + 1
                              THEN v[i] - {VEC_PERTURB_EPS}
                         ELSE v[i] END)
    FROM (SELECT vec_id AS oid,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id % {mod} = 0)"""


def plant_exact_docs(docs):
    """documents (doc_id, text) + identical copies of every
    DOC_EXACT_MOD-th doc at doc_id + PLANT_ID_OFFSET — the DataFrame
    half of DOC_EXACT_CORPUS_SQL."""
    from pyspark.sql import functions as F

    dups = docs.filter(F.col("doc_id") % DOC_EXACT_MOD == 0).select(
        (F.col("doc_id") + PLANT_ID_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(dups)


def plant_near_docs(docs):
    """documents (doc_id, text) + ' zzz'-suffixed near-dups of every
    DOC_NEAR_MOD-th doc — the DataFrame half of
    DOC_NEAR_CORPUS_SQL."""
    from pyspark.sql import functions as F

    near = docs.filter(F.col("doc_id") % DOC_NEAR_MOD == 0).select(
        (F.col("doc_id") + PLANT_ID_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    return docs.unionByName(near)


def plant_mutated_docs(docs):
    """documents (doc_id, text) + same-LENGTH single-char mutations
    of every DOC_NEAR_MOD-th doc — the DataFrame half of
    DOC_MUT_CORPUS_SQL."""
    from pyspark.sql import functions as F

    mut = docs.filter(F.col("doc_id") % DOC_NEAR_MOD == 0).select(
        (F.col("doc_id") + PLANT_ID_OFFSET).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 4),
            F.lit("q"),
            F.expr("substring(text, 6, length(text))"),
        ).alias("text"),
    )
    return docs.unionByName(mut)


def plant_scaled_vectors(emb):
    """embeddings → (vec_id, v double-array) + 1.5x-scaled copies of
    every VEC_SCALE_MOD-th vector — the DataFrame half of
    VEC_SCALE_CORPUS_SQL."""
    from pyspark.sql import functions as F

    from innercircle_etl_spark.functions import vectors as V

    base = emb.select("vec_id", V.as_double(F.col("embedding")).alias("v"))
    planted = emb.filter(F.col("vec_id") % VEC_SCALE_MOD == 0).select(
        (F.col("vec_id") + PLANT_ID_OFFSET).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.5).alias("v"),
    )
    return base.unionByName(planted)


def perturbed_vectors(emb, mod: int):
    """embeddings → the planted copies (vec_id, v double-array) of
    ``perturbed_vectors_sql(mod)``: same dims, same first-match-wins
    order. The original id is renamed first because a lambda that
    reads vec_id while the same select aliases the shifted id AS
    vec_id resolves to that lateral alias (Spark 3.4+) and perturbs
    the wrong dims."""
    from pyspark.sql import functions as F

    j1 = F.col("oid") % 64
    j2 = (F.col("oid") * 7) % 64
    eps = VEC_PERTURB_EPS
    return (
        emb.filter(F.col("vec_id") % mod == 0)
        .select(F.col("vec_id").alias("oid"), "embedding")
        .select(
            (F.col("oid") + PLANT_ID_OFFSET).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i == j1, x.cast("double") + eps)
                .when(i == j2, x.cast("double") - eps)
                .otherwise(x.cast("double")),
            ).alias("v"),
        )
    )
