"""Names and units of the per-layer metrics reported by a traced run,
read from the ``per_layer`` list of ``BENCHMARK.json``.

A name is ``<layer>.<op>.<measure>``: ``<layer>`` is a package of
``linref_spark`` and ``<op>`` the library call measured. Every traced run
prints every name; a layer that does no work in a workload reads 0 there.
"""

from __future__ import annotations

import json
import os

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    UNITS = {m["name"]: m["unit"] for m in json.load(_f)["per_layer"]}
