"""Derive the tagged-part count mechanically from __spark_entry__'s
composite part table (``_TAGGED_PARTS`` lists the tags of every batch
composite in ``_COMPOSITES``; round-11 directive: docs stated "~186"
while the truth was 183 — counts in README/SURVEY must come from this,
not by hand).

Usage: python tools/count_parts.py [--per-entry]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main() -> None:
    import __spark_entry__ as e
    parts = e._TAGGED_PARTS
    total = sum(len(v) for v in parts.values())
    print(f"entries: {len(parts)}  tagged parts: {total}")
    if "--per-entry" in sys.argv:
        for k in sorted(parts):
            print(f"  {k}: {len(parts[k])}")


if __name__ == "__main__":
    main()
