"""Query library: every SURVEY.md §2 operator as a registered query.

Importing this package populates the registry consumed by
``__spark_entry__.queries()`` / ``oracle_sql()``, and exports the one
way to time a query (``run_query``, ``timed_runs``) and to check it
against its oracle (``parity_failure``).
"""

from .registry import ORACLES, QUERIES  # noqa: F401
from .registry import materialize, parity_failure, run_query, timed_runs  # noqa: F401

# Import side effects register all queries.
from . import relational  # noqa: E402,F401
from . import flagship  # noqa: E402,F401
from . import llmdata  # noqa: E402,F401
from . import pipeline_ops  # noqa: E402,F401
from . import udf_surface  # noqa: E402,F401
from . import extras  # noqa: E402,F401
from . import traindata  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
