"""Query registry package (round 10 split of __spark_entry__.py —
VERDICT r9 #8): one module per query family, a shared substrate for
helpers, and a finalization module that pins the 50-slot driver
window. Import order is registration order for the tail; the window
head is enforced by _window._reorder_registry regardless."""

from ._shared import (  # noqa: F401
    _REGISTRY,
    _register,
    entry,
)

from . import scans  # noqa: F401,E402
from . import tpch  # noqa: F401,E402
from . import joins  # noqa: F401,E402
from . import windows  # noqa: F401,E402
from . import setops  # noqa: F401,E402
from . import aggregates  # noqa: F401,E402
from . import scalars  # noqa: F401,E402
from . import profiling  # noqa: F401,E402
from . import warehouse  # noqa: F401,E402
from . import analytics  # noqa: F401,E402
from . import features  # noqa: F401,E402
from . import textops  # noqa: F401,E402
from . import dedup  # noqa: F401,E402
from . import embeddings  # noqa: F401,E402
from . import sketches  # noqa: F401,E402
from . import sampling  # noqa: F401,E402
from . import layout  # noqa: F401,E402
from . import graph  # noqa: F401,E402
from . import timeseries  # noqa: F401,E402
from . import geo  # noqa: F401,E402
from . import curation  # noqa: F401,E402
from . import linkage  # noqa: F401,E402
from . import skew  # noqa: F401,E402

from ._window import (  # noqa: F401,E402
    _DRIVER_WINDOW,
    _NO_ORACLE_TWINS,
    _WINDOW_ORDER,
    oracle_sql,
    queries,
)
