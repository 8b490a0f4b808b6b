"""sparkcrawl borrows session conf in exactly one place: scope.capped_conf
(session value as ceiling, exact restore on every path).  Hand-rolled
set/restore copies are where conf leaks and size-suffix crashes came
from, so a new one fails here by name."""

import glob
import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "sparkcrawl")


def test_only_scope_module_writes_session_conf():
    offenders = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"),
                                 recursive=True)):
        if path == os.path.join(PKG, "scope.py"):
            continue
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                if re.search(r"conf\.(set|unset)\(", line):
                    offenders.append(f"{os.path.relpath(path, PKG)}:{lineno}: "
                                     f"{line.strip()}")
    assert not offenders, (
        "use sparkcrawl.scope.capped_conf instead of writing spark.conf "
        "directly:\n" + "\n".join(offenders))
