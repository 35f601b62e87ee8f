"""Library behaviour must not depend on hidden session state.

The package reads no ``spark.aeon.*`` conf keys (tuning bounds are
module constants, patched in tests) and never sets or unsets a session
conf: a conf change is shared by every concurrent query in the session,
so per-call settings go on the reader/writer as options instead.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "aeon_mecha_spark"
)
_FORBIDDEN = re.compile(r"spark\.aeon\.|conf\.(set|unset)\(")


def test_package_has_no_session_knobs_or_conf_mutation():
    hits = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as f:
                for no, line in enumerate(f, 1):
                    if _FORBIDDEN.search(line):
                        hits.append(f"{os.path.relpath(path, PKG)}:{no}: {line.strip()}")
    assert not hits, "session knobs / conf mutation:\n" + "\n".join(hits)
