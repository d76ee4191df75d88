"""Print the identity of every registered query, one line each, in
``REGISTRY`` order: name, ``fn.__name__``, sha1 of the oracle string
(``-`` for rows-only queries) and sha1 of the whitespace-normalised
docstring.

A refactor that claims "same registry" runs this on the parent tree
and on the change tree and diffs the two outputs: order, names and
oracle hashes must match byte for byte; doc hashes may differ only
for the queries the change touches. No Spark session is started.

Usage: python scripts/registry_identity.py
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _sha1(text: str) -> str:
    return hashlib.sha1(text.encode()).hexdigest()


def main() -> None:
    from process_spark.queries import REGISTRY

    for name, q in REGISTRY.items():
        oracle = "-" if q.oracle is None else _sha1(q.oracle)
        doc = _sha1(" ".join((q.fn.__doc__ or "").split()))
        print(name, q.fn.__name__, oracle, doc)


if __name__ == "__main__":
    main()
