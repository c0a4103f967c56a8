"""Generate COVERAGE.md: reference op -> module, suite key, check tier."""

from __future__ import annotations

import inspect
import sys

sys.path.insert(0, "/root/repo")


def render() -> str:
    """Build the COVERAGE.md text (shared by main() and the freshness
    pytest — tests/test_api_and_ext.py::test_coverage_md_fresh asserts
    the committed file matches a fresh render, so mutating a SUITE
    entry without regenerating COVERAGE.md fails loudly)."""
    from pyspark.sql import SparkSession

    SparkSession.builder.master("local[2]").appName("cov").getOrCreate()
    import __spark_entry__ as E
    from pandas_ta_spark import registry

    oracles = set(E.oracle_sql())
    queries = set(E.queries())
    suite_by_op: dict[str, list[str]] = {}
    for key, fac in registry._SUITE.items():
        ind = fac()
        suite_by_op.setdefault(ind.key, []).append(key)

    lines = [
        "# COVERAGE — reference operator inventory vs implementation",
        "",
        "Generated by tools/gen_coverage.py. Check tier: `oracle` = exact",
        "DuckDB value-hash gate (window SQL or recursive CTE), `rows` =",
        "rows-only driver check + pandas golden-parity test.",
        "",
    ]
    for cat, ops in sorted(registry.Category.items()):
        lines.append(f"## {cat} ({len(ops)} ops)")
        lines.append("")
        lines.append("| op | module | suite keys | check |")
        lines.append("|---|---|---|---|")
        for op in sorted(ops):
            fac = registry._FACTORIES[op]
            mod = inspect.getmodule(fac).__name__.replace("pandas_ta_spark.", "")
            keys = suite_by_op.get(op, [])
            tiers = set()
            for k in keys:
                if k in oracles:
                    tiers.add("oracle")
                elif k in queries:
                    tiers.add("rows")
            tier = "/".join(sorted(tiers)) or "(helper)"
            lines.append(f"| {op} | {mod} | {', '.join(keys) or '—'} | {tier} |")
        lines.append("")
    ext_keys = sorted(k for k in queries if k not in
                      {key for keys in suite_by_op.values() for key in keys})
    lines.append(f"## ext / LLM-pipeline ({len(ext_keys)} queries)")
    lines.append("")
    lines.append("| query | check |")
    lines.append("|---|---|")
    for k in ext_keys:
        lines.append(f"| {k} | {'oracle' if k in oracles else 'rows'} |")
    lines.append("")
    # beyond-gate surfaces: public API with no (spark, sf_dir) gate entry
    # — evidenced by pytest instead. Importability is VERIFIED here so a
    # renamed/removed symbol breaks coverage generation loudly.
    surfaces = [
        ("pandas_ta_spark.sources.formats", "ticker",
         "offline vendor-dir OHLCV adapter (core.py#ticker twin)",
         "tests/test_api_and_ext.py::test_ticker_vendor_dir_adapter"),
        ("pandas_ta_spark.sources.bars", "resample_bars",
         "bars->bars OHLC interval resampling",
         "tests/test_api_and_ext.py::test_ticker_vendor_dir_adapter"),
        ("pandas_ta_spark.sources.bars", "write_bars",
         "date-partitioned parquet sink",
         "tests/test_api_and_ext.py (sink tests)"),
        ("pandas_ta_spark.sources.bars", "write_bars_bucketed",
         "bucketBy(symbol) managed-table sink, 0-exchange re-reads",
         "tests/test_api_and_ext.py + bench.py bucketed_read entries"),
        ("pandas_ta_spark.ext.relational", "asof_join",
         "public as-of join over arbitrary event/bar relations",
         "tests/test_api_and_ext.py::test_asof_join_property_vs_merge_asof"),
        ("pandas_ta_spark.plans.strategy", "apply_strategy_chunked",
         "bounded-memory time-chunked strategy (exact carry at any chunk"
         " size, depth-checked)",
         "tests/test_api_and_ext.py (5 test_chunked_strategy_* tests)"),
        ("pandas_ta_spark.plans.strategy", "expression_lookback",
         "SQL-twin depth introspection for the chunk contract",
         "tests/test_api_and_ext.py::"
         "test_chunked_strategy_rejects_deep_and_unbounded_expressions"),
        ("pandas_ta_spark.streaming", "stream_topk_ivf",
         "online ANN serving vs the session IVF index (bit-identical"
         " to batch)",
         "tests/test_streaming_custom.py::"
         "test_streaming_topk_ivf_matches_batch"),
        ("pandas_ta_spark.streaming", "stream_topk_ivfpq",
         "online IVF-PQ serving: expression LUTs over codebook"
         " literals, exact-integer ADC (bit-identical to batch)",
         "tests/test_streaming_custom.py::"
         "test_streaming_topk_ivfpq_matches_batch"),
        ("pandas_ta_spark.streaming", "stream_xsec_rank",
         "streaming cross-sectional rank/percentile (bit-identical to"
         " batch)",
         "tests/test_streaming_custom.py::"
         "test_streaming_xsec_rank_matches_batch"),
        ("pandas_ta_spark.streaming", "stream_xsec_zscore",
         "streaming panel standardization (per-ts winsorized z-score,"
         " bit-identical to batch)",
         "tests/test_streaming_custom.py::"
         "test_streaming_xsec_zscore_matches_batch"),
        ("pandas_ta_spark.streaming", "stream_dedup_exact",
         "watermarked streaming exact dedup",
         "tests/test_streaming_custom.py"),
        ("pandas_ta_spark.streaming", "stream_dedup_vs_corpus",
         "online ingestion dedup gate vs the static corpus index"
         " (full Jaccard verify, batch-pair-set parity)",
         "tests/test_streaming_custom.py::"
         "test_stream_dedup_vs_corpus_matches_batch_pairs"),
        ("pandas_ta_spark.streaming", "stream_decontamination_gate",
         "ingestion-time fuzzy decontamination vs the eval-slice index"
         " (batch contamination_minhash parity)",
         "tests/test_streaming_custom.py::"
         "test_stream_decontamination_gate_matches_batch"),
        ("pandas_ta_spark.streaming", "stream_neardup_candidates",
         "streaming MinHash band pre-filter (batch-identical keys)",
         "tests/test_streaming_custom.py"),
        ("pandas_ta_spark.streaming", "stream_sessions",
         "native session_window sessionization",
         "tests/test_streaming_custom.py"),
        ("pandas_ta_spark.ext.media", "sample_frames",
         "frame sampling (1 row -> N rows mapInPandas)",
         "gate query media_frame_sample + shape pytest"),
        ("pandas_ta_spark.ext.media", "resize_thumb",
         "deterministic resize-to-segments thumbnails",
         "gate query media_resize_8"),
        ("pandas_ta_spark.ext.decoders", "numpy_decoder",
         "pure-numpy PPM/PGM + PCM-WAV production-decoder registration"
         " example (real container bytes through set_decoder)",
         "tests/test_media_decoders.py (unit + e2e through"
         " media_features)"),
    ]
    import importlib

    lines.append("## beyond-gate public surfaces (pytest-evidenced)")
    lines.append("")
    lines.append("| surface | what | evidence |")
    lines.append("|---|---|---|")
    for mod_name, sym, what, ev in surfaces:
        obj = getattr(importlib.import_module(mod_name), sym)  # must exist
        assert callable(obj), (mod_name, sym)
        lines.append(f"| `{mod_name.replace('pandas_ta_spark.', '')}."
                     f"{sym}` | {what} | {ev} |")
    lines.append("")
    n_or = len(oracles)
    lines.append(
        f"**Totals: {len(registry._FACTORIES)} operator factories, "
        f"{len(queries)} driver queries ({n_or} oracle-checked, "
        f"{len(queries) - n_or} rows-only), "
        f"{len(surfaces)} beyond-gate surfaces.**"
    )
    return "\n".join(lines) + "\n"


def main():
    text = render()
    with open("/root/repo/COVERAGE.md", "w") as f:
        f.write(text)
    print(f"wrote COVERAGE.md ({len(text.splitlines())} lines)")


if __name__ == "__main__":
    main()
