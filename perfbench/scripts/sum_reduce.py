"""Streaming-sum reducer: reads ``k1<TAB>k2<TAB>n`` lines sorted by key
and writes one ``k1<TAB>k2<TAB>sum`` line per key."""

import sys


def main() -> None:
    out = sys.stdout
    cur, total = None, 0
    for line in sys.stdin:
        key, _, value = line.rstrip("\n").rpartition("\t")
        if key != cur:
            if cur is not None:
                out.write(f"{cur}\t{total}\n")
            cur, total = key, 0
        total += int(value)
    if cur is not None:
        out.write(f"{cur}\t{total}\n")


if __name__ == "__main__":
    main()
