"""LLM-training-data pipeline operators (net-new vs the reference).

The reference engine (NHSDigital/data-validation-engine) validates batch
files and has no dedup, similarity or text-analysis surface. These
operators extend its entity-namespace model to a training-data pipeline:

- :mod:`dedup` — exact, MinHash-LSH (banded, never all-pairs), SimHash and
  exact n-gram Jaccard (AllPairs/PPJoin) dedup, connected components, and
  the LSH index maintenance pass for incremental dedup.
- :mod:`similarity` / :mod:`ivf` — cosine top-k (exact, LSH multi-probe,
  partition-pruned, coarse-quantized ANN) and hard-negative mining.
- :mod:`text` — tokens, quality stats, language ID, TF-IDF, fingerprints,
  Gopher-style repetition, PII scrubbing; :mod:`decontam` — benchmark
  n-gram decontamination.
- :mod:`chunking` — zero-shuffle chunking and greedy sequence packing;
  :mod:`split` — md5-bucket splits, stable and negative sampling,
  stride-scheduled source interleaving.
- :mod:`vectors` — partitioning-independent vector folds, prototypes and
  engine-exact k-means; :mod:`multimodal` — Arrow-batched binary decode.
- :mod:`chat` — rendering with exact content and loss-mask spans;
  :mod:`normalize` / :mod:`web` — NFKC, HTML-to-text, JSON sidecars.
- :mod:`sketch` — Count-Min, Bloom and CMS-screened exact (and windowed)
  heavy hitters: shuffle bounded by cells, never by cardinality.
- :mod:`dsir` importance resampling, :mod:`fusion` reciprocal rank
  fusion, :mod:`robots` RFC 9309 filtering, :mod:`classifier`
  fastText-style scoring, :mod:`substrings` repeated-substring removal.

Every hash is an ``md5`` hex string, portable across engines, so each
operator has an exact ANSI-SQL oracle (the driver's DuckDB gate). Hot
paths are ``pyspark.sql.functions``; Python runs only at the multimodal
decode boundary, as Arrow-batched ``mapInPandas``.

``llmops.<module>`` and ``llmops.<public function or class>`` resolve
lazily and import only the module that defines them.
"""

import importlib
import re
from functools import cache
from pathlib import Path

_HERE = Path(__file__).parent


@cache
def _definitions() -> dict[str, str]:
    """Public top-level def/class name -> its module, read from source."""
    pattern = re.compile(r"^(?:def|class) ([A-Za-z]\w*)\s*[(:]", re.M)
    return {name: path.stem for path in _HERE.glob("*.py")
            for name in pattern.findall(path.read_text())}


def __getattr__(name: str):
    if not name.startswith("_") and (_HERE / f"{name}.py").is_file():
        return importlib.import_module(f"{__name__}.{name}")
    if name not in _definitions():
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    module = importlib.import_module(f"{__name__}.{_definitions()[name]}")
    return getattr(module, name)
