"""Relational step vocabulary: typed configs + the Spark step engine.

Every public name in ``steps.configs`` (each step type and ``AnyStep``)
is also importable from here.
"""

from data_validation_engine_spark.steps import configs
from data_validation_engine_spark.steps.configs import parse_step
from data_validation_engine_spark.steps.engine import StepEngine


def __getattr__(name: str):
    if not name.startswith("_") and hasattr(configs, name):
        return getattr(configs, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
