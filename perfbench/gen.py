"""Seeded input generator: lineitem-shaped tab lines.

One process, numpy only (no Spark). The same (seed, rows) always gives
byte-identical files. ``partkey`` and ``suppkey`` are Zipf-skewed, so
the hottest key holds roughly a fifth of the rows and the reduce
partition that owns it does real extra work.

Columns, 0-based, in TPC-H lineitem order::

    c0 orderkey  c1 partkey  c2 suppkey  c3 linenumber  c4 quantity
    c5 extendedprice  c6 discount  c7 tax  c8 returnflag  c9 linestatus
    c10 shipdate  c11 commitdate  c12 receiptdate  c13 shipinstruct
    c14 shipmode  c15 comment
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np

N_FILES = 4
N_PARTS = 20_000
N_SUPPS = 1_000
SHIPINSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
SHIPMODE = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
WORDS = (
    "furiously quickly carefully slyly blithely final regular express "
    "special pending ironic bold even silent deposits accounts packages "
    "requests instructions theodolites pinto beans foxes ideas dolphins "
    "platelets asymptotes courts frays across about above after against "
    "along among around"
).split()
#: columns the oracle reads (DuckDB types); dates and flags stay strings
#: because the engine's branches compare them as strings too
COLUMNS = {
    "c0": "BIGINT", "c1": "BIGINT", "c2": "BIGINT", "c3": "BIGINT",
    "c4": "BIGINT", "c5": "DECIMAL(12,2)", "c6": "VARCHAR", "c7": "VARCHAR",
    "c8": "VARCHAR", "c9": "VARCHAR", "c10": "VARCHAR", "c11": "VARCHAR",
    "c12": "VARCHAR", "c13": "VARCHAR", "c14": "VARCHAR", "c15": "VARCHAR",
}


@dataclass(frozen=True)
class Input:
    """A generated input directory and what is recorded beside it."""

    path: Path
    seed: int
    rows: int
    bytes: int

    @property
    def data(self) -> Path:
        """The directory holding only the input's part files."""
        return self.path / "data"

    @property
    def mb(self) -> float:
        return self.bytes / 1e6


def _zipf(rng: np.random.Generator, a: float, n: int, cap: int) -> np.ndarray:
    """Zipf(a) ranks folded into 1..cap (rank 1 stays the hot key)."""
    return (rng.zipf(a, n) - 1) % cap + 1


def make_lines(seed: int, rows: int) -> list[str]:
    """The seeded rows as tab-joined lines, in file order."""
    rng = np.random.default_rng([seed, rows])
    orderkey = rng.integers(1, max(rows // 4, 2), rows)
    partkey = _zipf(rng, 1.2, rows, N_PARTS)
    suppkey = _zipf(rng, 1.3, rows, N_SUPPS)
    linenumber = rng.integers(1, 8, rows)
    quantity = rng.integers(1, 51, rows)
    cents = quantity * (90_000 + (partkey % 2_000) * 100 + rng.integers(0, 100, rows))
    discount = rng.integers(0, 11, rows)
    tax = rng.integers(0, 9, rows)
    returnflag = np.array(["A", "N", "R"])[rng.integers(0, 3, rows)]
    linestatus = np.array(["F", "O"])[rng.integers(0, 2, rows)]
    ship = np.datetime64("1992-01-02") + rng.integers(0, 2_400, rows).astype("timedelta64[D]")
    commit = ship + rng.integers(-60, 60, rows).astype("timedelta64[D]")
    receipt = ship + rng.integers(1, 31, rows).astype("timedelta64[D]")
    instruct = np.array(SHIPINSTRUCT)[rng.integers(0, len(SHIPINSTRUCT), rows)]
    mode = np.array(SHIPMODE)[rng.integers(0, len(SHIPMODE), rows)]
    words = np.array(WORDS)
    w = rng.integers(0, len(WORDS), (rows, 3))
    comment = np.char.add(
        np.char.add(np.char.add(words[w[:, 0]], " "), np.char.add(words[w[:, 1]], " ")),
        words[w[:, 2]],
    )
    cols = [
        orderkey.tolist(),
        partkey.tolist(),
        suppkey.tolist(),
        linenumber.tolist(),
        quantity.tolist(),
        [f"{c // 100}.{c % 100:02d}" for c in cents.tolist()],
        [f"0.{d:02d}" if d < 10 else "0.10" for d in discount.tolist()],
        [f"0.{t:02d}" for t in tax.tolist()],
        returnflag.tolist(),
        linestatus.tolist(),
        ship.astype(str).tolist(),
        commit.astype(str).tolist(),
        receipt.astype(str).tolist(),
        instruct.tolist(),
        mode.tolist(),
        comment.tolist(),
    ]
    return ["\t".join(map(str, r)) for r in zip(*cols)]


def generate(root: Path, seed: int, rows: int, keep: int = 6) -> Input:
    """Return the input for (seed, rows), writing it under ``root`` on
    first use. Written to a temp dir and renamed, so a killed run never
    leaves a half-written input behind. At most ``keep`` inputs stay
    cached; the least recently used ones are removed."""
    path = root / f"s{seed}-n{rows}"
    meta_path = path / "meta.json"
    if not meta_path.exists():
        tmp = root / f".tmp-s{seed}-n{rows}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        (tmp / "data").mkdir(parents=True)
        lines = make_lines(seed, rows)
        per = -(-rows // N_FILES)
        files = []
        for i in range(N_FILES):
            chunk = lines[i * per : (i + 1) * per]
            data = ("\n".join(chunk) + "\n").encode() if chunk else b""
            (tmp / "data" / f"part-{i:05d}.txt").write_bytes(data)
            files.append({"name": f"part-{i:05d}.txt", "rows": len(chunk), "bytes": len(data),
                          "sha256": hashlib.sha256(data).hexdigest()})
        meta = {"seed": seed, "rows": rows, "bytes": sum(f["bytes"] for f in files),
                "files": files, "columns": COLUMNS}
        (tmp / "meta.json").write_text(json.dumps(meta, indent=1))
        try:
            tmp.rename(path)
        except OSError:  # another run finished the same input first
            shutil.rmtree(tmp, ignore_errors=True)
        _evict(root, keep)
    os.utime(path)
    meta = json.loads(meta_path.read_text())
    return Input(path, seed, rows, meta["bytes"])


def _evict(root: Path, keep: int) -> None:
    dirs = sorted(
        (d for d in root.iterdir() if d.is_dir() and not d.name.startswith(".")),
        key=lambda d: d.stat().st_mtime,
    )
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def line_digest(lines) -> tuple[int, str]:
    """Order-insensitive multiset digest: (count, sum of 64-bit line
    hashes mod 2**64)."""
    n, acc = 0, 0
    for line in lines:
        acc += int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "little")
        n += 1
    return n, f"{acc % (1 << 64):016x}"
