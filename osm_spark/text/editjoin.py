"""Edit-distance similarity join — exact recall, never all-pairs.

URL/title near-duplicate detection (typosquatting, tracking-parameter
variants, CDN mirrors) needs ALL string pairs within edit distance d.
MinHash/SimHash are Jaccard machinery — wrong metric for short keys
where one character substitution matters.  The scalable exact shape
is the q-gram prefix-filtered join (AllPairs/PPJoin family):

1. Each string's DISTINCT q-gram set A loses at most q grams per
   edit, so strings within distance d share >= max(|A|,|B|) - d*q
   grams — in particular, AT LEAST ONE gram among each string's
   (d*q + 1) rarest grams under a GLOBAL (frequency, gram) order
   (take A's prefix P_A of its |A| - (|A| - d*q) + 1 = d*q + 1
   smallest elements: if A∩B avoided P_A entirely, A∩B would have to
   fit inside the |A| - (d*q + 1) largest, contradicting
   |A∩B| >= |A| - d*q).
2. Joining on PREFIX grams only is therefore complete — and kills
   the hot-gram blowup: every string shares the structural grams of
   its template ('page-', 'http'), but those are the most FREQUENT
   grams, excluded from every prefix.  Bucket sizes track the rare
   tail of the gram distribution, never the corpus.
3. Candidates verify with the exact unit-cost Levenshtein DP
   (`F.levenshtein`, JVM-side; DuckDB's levenshtein() is the same
   classic DP, so the oracle can brute-force all pairs index-free).

Cost: one gram-frequency aggregation (gram-vocabulary-sized,
broadcast), one per-string rank window, one equi-join on prefix
grams (short strings join on deletion variants in the same join, see
edit_distance_join), one verify projection.  No similarity join in
the plan ever compares strings that share zero rare grams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def qgrams(s, q: int = 2) -> Column:
    """Distinct q-grams of a string column (array<string>); strings
    shorter than q yield their whole self as the single gram."""
    c = F.col(s) if isinstance(s, str) else s
    n = F.length(c)
    ks = F.when(n >= q, F.sequence(F.lit(1), n - (q - 1))).otherwise(
        F.array(F.lit(1))
    )
    return F.array_distinct(
        F.transform(ks, lambda i: c.substr(i, F.lit(q)))
    )


def _deletion_variants(d: int) -> Column:
    """Distinct strings left after deleting <= d characters of column
    ``s`` (one per position bitmask: only for short strings)."""
    return F.expr(
        f"""array_distinct(transform(
          filter(sequence(0, shiftleft(1, length(s)) - 1),
                 m -> bit_count(m) <= {d}),
          m -> array_join(transform(sequence(0, length(s)),
                 i -> IF(i = 0 OR (shiftright(m, i - 1) & 1) = 1, '',
                         substr(s, i, 1))), '')))"""
    )


def edit_distance_join(
    strs: DataFrame,
    id_col: str = "sid",
    str_col: str = "s",
    d: int = 2,
    q: int = 2,
) -> DataFrame:
    """-> (a, b, dist): all id pairs (a < b) with
    levenshtein(s_a, s_b) <= d.  Exact recall via the prefix filter
    (module header) whenever one string of the pair has length
    >= q * (d + 1): its q-gram windows outnumber what d edits can
    destroy.  Two shorter strings may share no gram at all ('ab' and
    'cd' at q=2, d=2), so those pair on their deletion neighbourhoods
    instead (FastSS): strings within distance d share a string reached
    by <= d deletions from each side."""
    base = strs.select(
        F.col(id_col).alias("sid"), F.col(str_col).alias("s")
    )
    g = base.select("sid", "s", F.explode(qgrams("s", q)).alias("g"))
    freq = g.groupBy("g").agg(F.count(F.lit(1)).alias("gf"))
    ranked = (
        g.join(F.broadcast(freq), "g")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("sid").orderBy("gf", "g")
            ),
        )
        .where(F.col("rk") <= d * q + 1)
        .select("sid", "s", "g")
        .unionByName(
            # "\0"-marked: a deletion variant only meets another one
            base.where(F.length("s") < q * (d + 1)).select(
                "sid", "s",
                F.explode(_deletion_variants(d)).alias("v"),
            ).select("sid", "s", F.concat(F.lit("\0"), "v").alias("g"))
        )
    )
    a = ranked.select(
        F.col("sid").alias("a"), F.col("s").alias("sa"), "g"
    )
    b = ranked.select(
        F.col("sid").alias("b"), F.col("s").alias("sb"), "g"
    )
    cand = (
        a.join(b, "g")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "sa", "sb")
        .distinct()
    )
    return cand.select(
        "a",
        "b",
        F.levenshtein("sa", "sb").alias("dist"),
    ).where(F.col("dist") <= d)
