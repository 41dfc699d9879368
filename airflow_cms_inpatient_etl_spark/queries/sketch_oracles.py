"""DuckDB oracles shared by a batch sketch query and its live streaming twin.

The live twin's drained state is cell-exact equal to the batch build, so both
register the same oracle.  The strings live here, in a module that registers
no query, so the live queries can name them without importing the batch
query's module (which would move its registrations ahead of theirs)."""

# heavy_hitters_cms (queries.curation2) and streaming_heavy_hitters_live
HEAVY_HITTERS_CMS_ORACLE = """
    WITH e AS (
        SELECT CAST(props->>'k' AS BIGINT) AS item FROM events
    )
    SELECT item,
           CAST(COUNT(*) AS BIGINT) AS exact_count,
           TRUE AS est_ge_exact,
           TRUE AS within_bound
    FROM e WHERE item IS NOT NULL GROUP BY item
    """

# sketch_qdigest_quantiles (queries.analytics) and streaming_percentiles_live
QDIGEST_QUANTILES_ORACLE = """
    WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem)
    SELECT t.q_label, nn.n_rows,
           TRUE AS rank_not_below_target,
           TRUE AS rank_within_bound,
           TRUE AS sketch_bounded
    FROM (VALUES ('q25'), ('q50'), ('q75'), ('q90'), ('q99')) AS t(q_label), nn
    """
