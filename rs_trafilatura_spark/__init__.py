"""rs_trafilatura_spark — a PySpark-native main-content extraction engine.

A brand-new, Spark-first re-expression of the capabilities of the
``Murrough-Foley/rs-trafilatura`` reference (a single-document Rust library):
an Iceberg/parquet table of Common-Crawl-style pages in, a partitioned table
of extracted text + span offsets + metadata out.  The per-document extraction
cascade runs as an Arrow-batched ``mapInArrow`` kernel (zero per-row Python
dispatch at the Spark level); all distribution concerns (salting skewed
hosts, size-aware repartitioning, checkpoint/resume, stage metrics) live in
plain DataFrame code.

Layout:
- ``dom``        pure-Python lxml-style DOM (text/tail model) over stdlib html.parser
- ``functions``  scalar helpers (encoding, text normalization, urls, dates)
- ``kernel``     the per-document extraction cascade (reference parity)
- ``plans``      Spark job assembly: scan -> salt/repartition -> kernel -> write
- ``sources``    IO + per-partition checkpoint manifest
- ``operators``  corpus-level ops (dedup, similarity search, text stats)
- ``datagen``    deterministic synthetic page corpus (FIXTURES.md)
"""

__version__ = "0.1.0"

# Reference-shaped public API (lib.rs:82-215): extract /
# extract_with_options / extract_bytes / extract_bytes_with_options /
# Options at the crate root.  Lazy (PEP 562) so importing the package on
# every executor worker doesn't pay the kernel import until first use.
_API = {
    "extract", "extract_with_options",
    "extract_bytes", "extract_bytes_with_options", "Options",
}


def __getattr__(name):
    if name in _API:
        from .options import Options as _Options

        if name == "Options":
            return _Options
        from .kernel import extract as _extract, extract_bytes as _extract_bytes

        return {
            "extract": _extract,
            # the reference splits the options variant into a second fn;
            # ours take an optional ``opts`` param, so these alias
            "extract_with_options": _extract,
            "extract_bytes": _extract_bytes,
            "extract_bytes_with_options": _extract_bytes,
        }[name]
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
