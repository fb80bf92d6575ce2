"""Operator library: relational building blocks re-expressed Spark-first.

Each module maps to a family in SURVEY.md §2:

- ``core``       — projections, windows (causal rolling, latest-per-group,
                   top-k), distinct/dropna (P*, W*, §2.6)
- ``joins``      — semi/anti/star join helpers (J*)
- ``setops``     — by-name unions / long-table explosion (U*)
- ``fold``       — ordered per-group sequential folds over sorted
                   partitions via mapInPandas
                   (UD1: Elo and generalizations)
- ``dedup``      — exact + near-duplicate detection (E1, E2)
- ``similarity`` — embedding cosine top-k, brute force + LSH path (E3)
- ``text``       — tokenization, language-ID, quality, fingerprints (E4)
- ``multimodal`` — binary-column plumbing for image/audio payloads
"""
