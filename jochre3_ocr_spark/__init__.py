"""jochre3_ocr_spark — a brand-new PySpark-native OCR-extraction analytics engine.

Re-expresses the computational semantics of joliciel-informatique/jochre3-ocr
(reference at /root/reference, Scala 3 / ZIO) as an idiomatic PySpark
DataFrame pipeline: one row per document, spans as array<struct>, all per-row
Python confined to Arrow-batched pandas UDFs / mapInPandas kernels.

Layout
------
functions/   pure-Python + column-expression scalar kernels
             (geometry, reading order, Yiddish simplifier/transliterator,
              lexicon semantics, text metrics)
operators/   span-tree rewrite rules, guesser (beam/hyphenation), segmentation
             (NMS/placement/spaces), dedup, similarity — per-doc kernels and
             the DataFrame operators wrapping them
sources/     deterministic corpus generator, ALTO XML scan/sink
plans/       the end-to-end DataFrame pipeline + checkpoint/resume
streaming/   Trigger.AvailableNow facade over the batch pipeline
"""

from jochre3_ocr_spark.worker import install_zip_cache_trim

__version__ = "0.1.0"

# every Spark Python worker that unpickles one of the package's functions
# imports this module: from then on each task's start skips re-reading
# the zip archives on the worker's path (see worker.ZipCacheTrim)
install_zip_cache_trim()


def __getattr__(name):
    """Lazy top-level exports (keeps `import jochre3_ocr_spark` light on
    executors — pyspark-importing modules load only when touched)."""
    from importlib import import_module

    exports = {
        "extract": ("jochre3_ocr_spark.plans.pipeline", "extract"),
        "extract_with_salting": (
            "jochre3_ocr_spark.plans.pipeline",
            "extract_with_salting",
        ),
        "extract_text_df": ("jochre3_ocr_spark.plans.pipeline", "extract_text_df"),
        "run_job": ("jochre3_ocr_spark.plans.pipeline", "run_job"),
        "get_spark": ("jochre3_ocr_spark.plans.pipeline", "get_spark"),
        "Lexicon": ("jochre3_ocr_spark.functions.lexicon", "Lexicon"),
        "PipelineConfig": ("jochre3_ocr_spark.schema", "PipelineConfig"),
        "api": ("jochre3_ocr_spark.api", None),
    }
    if name in exports:
        module, attr = exports[name]
        mod = import_module(module)
        return getattr(mod, attr) if attr else mod
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
