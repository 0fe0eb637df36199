import glob
import json
import os
import re

from kafkadirect_spark.plans.queries import ORACLE_SQL, QUERIES
from kafkadirect_spark.plans import llm_queries  # noqa: F401  (registers into QUERIES)
from kafkadirect_spark.plans import curation_queries  # noqa: F401  (registers into QUERIES)
from kafkadirect_spark.plans import analytics_queries  # noqa: F401  (registers into QUERIES)

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def stalest_first(names, root: str = _REPO_ROOT) -> list[str]:
    """Order ``names`` so the queries with the oldest correctness
    evidence come first: the external correctness gate checks only the
    first 50 registered queries per run.  Evidence is any row in a
    ``CORRECTNESS_r<N>.json`` under ``root``; a query's age is the
    ``N`` of its newest row.  Never-verified queries lead, then oldest
    newest-row; ties (and the no-artifact case) keep the given order."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if m:
            with open(path) as fh:
                for q in json.load(fh):
                    newest[q] = max(newest.get(q, 0), int(m.group(1)))
    return sorted(names, key=lambda q: newest.get(q, -1))


# Reorder in place so every importer — ``plans.QUERIES``,
# ``plans.queries.QUERIES``, ``__spark_entry__`` — sees the same order.
_ORDER = stalest_first(list(QUERIES))
for _registry in (QUERIES, ORACLE_SQL):
    for _name in _ORDER:
        if _name in _registry:
            _registry[_name] = _registry.pop(_name)

__all__ = ["QUERIES", "ORACLE_SQL", "stalest_first"]
