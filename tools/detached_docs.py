"""List detached scaladoc comments.

A doc comment (`/** ... */`) followed by nothing but blank lines and then
another doc comment documents nothing: scaladoc attaches only the last of
the two to the definition below, and scalac does not warn about the first.
This prints every such comment as `path:line`.

Run: python3 tools/detached_docs.py [DIR ...]   (default: src/main/scala)
Exit status 1 when any is found.
"""
import pathlib
import re
import sys

# A doc comment that opens a line (its body never crosses a `*/`), then
# only whitespace up to the next doc comment.
_DETACHED = re.compile(r"^[ \t]*/\*\*(?:(?!\*/).)*\*/(?=\s*/\*\*)", re.M | re.S)


def detached(text):
    """Line numbers (1-based) where a detached doc comment starts."""
    return [text.count("\n", 0, m.start()) + 1 for m in _DETACHED.finditer(text)]


def scan(roots):
    """(path, line) of every detached doc comment in the .scala files under roots."""
    found = []
    for root in roots:
        for path in sorted(pathlib.Path(root).rglob("*.scala")):
            found += [(path, n) for n in detached(path.read_text(encoding="utf-8"))]
    return found


def main(argv):
    found = scan(argv or ["src/main/scala"])
    for path, line in found:
        print(f"{path}:{line}")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
