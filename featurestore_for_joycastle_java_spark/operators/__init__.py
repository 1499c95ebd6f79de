"""Operator library: reference-parity ingest + the full relational surface.

Submodules:
- ``ingest``     — the reference pipeline (parse/extract/validate/project/demux/sink)
- ``relational`` — joins, aggregations, windows, sorts, set ops (SURVEY.md §2.2)
- ``asof``       — point-in-time joins and rolling time-window features
- ``features``   — feature-engineering operators (exponentially decayed aggregates)
- ``scd``        — slowly-changing-dimension build and apply (SCD type 2)
- ``bloom``      — Bloom-filter join pruning for selective joins
- ``ranks``      — global ROW_NUMBER / NTILE / PERCENT_RANK without a one-partition window
- ``layout``     — data layout: Z-order (Morton) clustering
- ``dedup``      — exact + MinHash/SimHash/n-gram near-duplicate detection
- ``text``       — text statistics, language-ID, quality scoring, fingerprints
- ``similarity`` — embedding similarity search (exact top-k, LSH/SRP, IVF, PQ, SemDeDup)
- ``gram``       — exact integer Gram-cell kernel for embedding-matrix analytics
- ``iterate``    — the one fixpoint loop every iterative operator runs through
- ``graph``      — iterative graph analytics (PageRank, HITS, label propagation)
- ``graphs``     — graph construction helpers and multi-source BFS
- ``multimodal`` — binary-column (image/audio) plumbing with stubbed codecs
"""
