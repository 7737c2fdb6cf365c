"""frontier_engine — a from-scratch PySpark-native URL-frontier + fetch scheduler.

Generalizes the change-scanning loop of the reference
(thiagodasilva/container-crawler: enumerate container DBs, diff each against a
last-seen row checkpoint, shard rows across owners, dispatch to handlers,
advance the checkpoint only on full success — container_crawler/__init__.py
Crawler.run_once/handle_container/submit_items, ~L225-L430) into a web-scale
crawl scheduler over Common-Crawl-style page tables, per SURVEY.md.

Modules
-------
xxh         pure-Python XXH64 matching Spark's built-in ``F.xxhash64`` (seed 42)
canon       RFC-3986 URL canonicalization: pure fn + vectorized pandas UDF
extract     extraction spec (byte-identical text) + link discovery
fixtures    deterministic synthetic pages/seeds/robots generators (FIXTURES.md)
refspec     single-threaded golden scheduler (the correctness oracle)
tableio     Parquet-backed snapshot tables: manifest commit / read_at / resume
membership  cuckoo filter (bloom fallback) URL-seen prefilter
politeness  robots prefix filter + per-host budget window
scheduler   the Spark crawl core (run_cycle / run / resume)
handlers    output-only cycle handlers: corpus stages, host graph
session     tuned SparkSession factory
zipcache    keeps per-task ``importlib.invalidate_caches()`` from re-parsing
            unchanged zip archives (installed here, on package import)
"""

from . import zipcache as _zipcache

_zipcache.install()

__version__ = "0.1.0"
