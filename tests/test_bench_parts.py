"""bench.emit_parts: every part-line stays within its byte limit, the
lines reassemble to the input, and an item too big for any line is
printed alone with a note on stderr."""

from __future__ import annotations

import json

import bench


def _lines(capsys, *args, **kwargs) -> tuple[list[str], str]:
    bench.emit_parts(*args, **kwargs)
    out, err = capsys.readouterr()
    return out.splitlines(), err


def _reassemble(lines: list[str], part_key: str, inner_key: str) -> dict:
    parts = [json.loads(line) for line in lines]
    assert [p[part_key] for p in parts] == list(range(1, len(parts) + 1))
    assert {p["of"] for p in parts} == {len(parts)}
    return {k: v for p in parts for k, v in p[inner_key].items()}


def test_part_lines_fit_the_limit(capsys):
    items = {f"q{i:03d}_{'x' * (i % 40)}": round(i * 1.37, 3) for i in range(300)}
    lines, err = _lines(capsys, "queries_part", "queries", items)
    assert len(lines) >= 10
    assert max(len(line.encode()) for line in lines) <= 390
    assert _reassemble(lines, "queries_part", "queries") == items
    assert not err


def test_part_lines_fit_when_the_count_gains_a_digit(capsys):
    """Two items fill a line when both indices have three digits; with
    more than 999 lines the indices have four, so the pairs must split."""
    def line(v: str) -> int:
        return len(json.dumps({"p": 999, "of": 999, "q": {"k0000": v, "k0001": v}}))

    v = "y" * ((390 - line("")) // 2)
    assert 389 <= line(v) <= 390
    items = {f"k{i:04d}": v for i in range(2400)}
    lines, err = _lines(capsys, "p", "q", items)
    assert max(len(line.encode()) for line in lines) <= 390
    assert _reassemble(lines, "p", "q") == items
    assert not err


def test_oversized_item_gets_its_own_line(capsys):
    items = {"a": 1.0, "big": "z" * 500, "b": 2.0}
    lines, err = _lines(capsys, "queries_part", "queries", items)
    parts = [json.loads(line) for line in lines]
    assert [p["queries"] for p in parts] == [{"a": 1.0}, {"big": "z" * 500}, {"b": 2.0}]
    assert [len(line) > 390 for line in lines] == [False, True, False]
    assert "queries_part 2" in err and "390" in err


def test_no_items_no_lines(capsys):
    assert _lines(capsys, "queries_part", "queries", {}) == ([], "")
