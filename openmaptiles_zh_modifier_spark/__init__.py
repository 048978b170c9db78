"""openmaptiles_zh_modifier_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of ZeLonewolf/openmaptiles-zh-modifier (reference at
/root/reference, studied for behavior only), extended with the relational
surface (joins / aggregations / windows / sorts / set ops) and
LLM-training-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis) needed at 100 TB scale.

Design principles:
  * DataFrame/SQL first — declare logical plans, let Catalyst/Tungsten pick
    physical strategy (predicate pushdown, column pruning, broadcast joins,
    whole-stage codegen, AQE).
  * UDFs are the slow path — everything here is built-in-expression-based
    except where Python is semantically unavoidable, and there we use
    Arrow-batched pandas UDFs, never row-at-a-time.
  * Scale-aware — every operator is written so the same plan holds on a
    1000-executor cluster: no driver-side collects in the data path, no
    O(n^2) joins without banding/bucketing, broadcast hints for dims.
"""

from openmaptiles_zh_modifier_spark.session import get_spark, session_builder

# Populate the query registry HERE, not at registry-module import time:
# the package __init__ always finishes before any submodule body runs, so
# query modules that from-import sibling modules (queries_retrieval and
# queries_trainprep import from queries_embeddings) never see a partially
# initialized module — regardless of which submodule a caller imports
# first.
from openmaptiles_zh_modifier_spark import registry as _registry

_registry._register_all()

__all__ = ["get_spark", "session_builder"]
__version__ = "0.1.0"
