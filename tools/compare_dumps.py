#!/usr/bin/env python3
"""Compare two graft.Verify output directories row for row, exactly.

Usage: tools/compare_dumps.py <dirA> <dirB> [lane ...]

Each lane is the parquet directory `<dir>/<lane>` that graft.Verify
writes. Without lane names, every lane directory found in either dump is
compared. A lane is identical only when both sides have the same column
names and types, the same number of rows, and every row in the same
position holds the same values: doubles compare by their bits (so NaN,
-0.0 and the last ulp count), nulls must sit in the same places, and row
order counts. A lane missing or empty on either side is a difference.

The intended use is the equivalence check for a retired code path: run
graft.Verify on a checkout of the commit before the deletion and on the
change, then compare the two dumps.

Exit status: 0 when every compared lane is identical, 1 otherwise.
"""
import os
import struct
import sys

import pyarrow.parquet as pq


def canon(v):
    """Hashable, exact form of a value: floats by their bit pattern,
    containers element by element (pyarrow gives maps as lists of
    (key, value) tuples and structs as dicts)."""
    if isinstance(v, float):
        return ("f", struct.pack("<d", v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple((k, canon(x)) for k, x in v.items()))
    return ("v", v)


def read_lane(path):
    """The lane's table, or None when it has no parquet data files."""
    if not os.path.isdir(path):
        return None
    if not any(n.endswith(".parquet") for n in os.listdir(path)):
        return None
    return pq.read_table(path)


def compare_lane(dir_a, dir_b, lane, show=5):
    """None when identical, else a one-line reason (plus sample rows)."""
    a = read_lane(os.path.join(dir_a, lane))
    b = read_lane(os.path.join(dir_b, lane))
    if a is None or b is None:
        side = "both" if a is None and b is None else ("A" if a is None else "B")
        return f"no output in {side}"
    sa = [(f.name, str(f.type)) for f in a.schema]
    sb = [(f.name, str(f.type)) for f in b.schema]
    if sa != sb:
        return f"schema {sa} vs {sb}"
    if a.num_rows != b.num_rows:
        return f"rows {a.num_rows} vs {b.num_rows}"
    names = a.column_names
    ra, rb = a.to_pylist(), b.to_pylist()
    diffs = []
    for i, (x, y) in enumerate(zip(ra, rb)):
        bad = [c for c in names if canon(x[c]) != canon(y[c])]
        if bad:
            diffs.append((i, bad, x, y))
    if not diffs:
        return None
    lines = [f"{len(diffs)} of {a.num_rows} rows differ"]
    for i, bad, x, y in diffs[:show]:
        lines.append(f"  row {i} {bad}: A={[x[c] for c in bad]!r} B={[y[c] for c in bad]!r}")
    return "\n".join(lines)


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 1
    dir_a, dir_b = argv[1], argv[2]
    lanes = argv[3:]
    if not lanes:
        lanes = sorted({n for d in (dir_a, dir_b) if os.path.isdir(d)
                        for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))})
    n_same = n_diff = 0
    for lane in lanes:
        reason = compare_lane(dir_a, dir_b, lane)
        if reason is None:
            n_same += 1
            print(f"SAME {lane}")
        else:
            n_diff += 1
            print(f"DIFF {lane}: {reason}")
    print(f"== {n_same} identical / {n_diff} differ ==")
    return 0 if n_diff == 0 and n_same > 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
