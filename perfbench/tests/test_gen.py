import filecmp

import gen


def test_same_seed_gives_identical_files(tmp_path):
    a = gen.generate(tmp_path / "a", seed=5, rows=3000)
    b = gen.generate(tmp_path / "b", seed=5, rows=3000)
    names = sorted(p.name for p in a.data.iterdir())
    assert len(names) == gen.N_FILES
    _, mismatch, errors = filecmp.cmpfiles(a.data, b.data, names, shallow=False)
    assert not mismatch and not errors
    assert (a.path / "meta.json").read_text() == (b.path / "meta.json").read_text()
    assert a.rows == 3000 and a.bytes == sum(p.stat().st_size for p in a.data.iterdir())


def test_other_seed_gives_other_lines():
    assert gen.make_lines(1, 500) != gen.make_lines(2, 500)


def test_keys_are_skewed():
    parts = [line.split("\t")[1] for line in gen.make_lines(3, 20_000)]
    hot = parts.count("1") / len(parts)
    assert 0.1 < hot < 0.3


def test_cached_input_is_reused(tmp_path):
    a = gen.generate(tmp_path, seed=9, rows=100)
    mtime = (a.data / "part-00000.txt").stat().st_mtime_ns
    b = gen.generate(tmp_path, seed=9, rows=100)
    assert b == a and (b.data / "part-00000.txt").stat().st_mtime_ns == mtime


def test_line_digest_ignores_order():
    lines = ["a\t1", "b\t2", "b\t2", "c\t3"]
    assert gen.line_digest(lines) == gen.line_digest(reversed(lines))
    assert gen.line_digest(lines) != gen.line_digest(lines[:-1] + ["c\t4"])
