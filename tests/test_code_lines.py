"""tools/code_lines.py: blank lines, comment-only lines and docstrings
are not code lines; everything else is."""

from __future__ import annotations

from tools.code_lines import code_lines, main

SNIPPET = '''"""Module docstring,
over two lines."""

import os  # a trailing comment keeps the line

# a comment-only line


class A:
    """Class docstring."""

    x = 1


def f(a,
      b):
    """Function
    docstring."""
    s = """a multi-line
    string that is not a docstring"""
    return (a +
            b)
'''


def test_snippet_count():
    # import, class, x, def (2 lines), s (2 lines), return (2 lines)
    assert code_lines(SNIPPET) == 9


def test_only_non_code():
    assert code_lines('"""doc"""\n\n# c\n') == 0


def test_cli_rows_and_total(tmp_path, capsys, monkeypatch):
    a = tmp_path / "a.py"
    a.write_text(SNIPPET)
    monkeypatch.chdir(tmp_path)
    import subprocess

    subprocess.run(["git", "init", "-q"], check=True)
    main(["--rev", "HEAD", str(a), str(tmp_path / "gone.py")])
    out = capsys.readouterr().out.splitlines()
    assert out[1].split()[1:] == ["0", "9", "+9"]  # no HEAD: 0 there
    assert out[2].split()[1:] == ["0", "0", "+0"]
    assert out[3].split() == ["total", "0", "9", "+9"]
