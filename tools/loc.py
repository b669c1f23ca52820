#!/usr/bin/env python3
"""Line counts of the engine source, so a change's size is reproducible.

Prints the raw line count of every ``*.scala`` file under a root
(default ``src/main/scala``) and the count of lines that are neither
blank, nor ``//`` line comments, nor inside a ``/* ... */`` block
(scaladoc included).

    python3 tools/loc.py [ROOT]
"""
import pathlib
import sys


def count(text: str) -> tuple[int, int]:
    raw = code = 0
    in_block = False
    for line in text.splitlines():
        raw += 1
        s = line.strip()
        if in_block:
            if "*/" in s:
                in_block = False
                # code after the closing */ on the same line still counts
                if s.split("*/", 1)[1].strip():
                    code += 1
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            in_block = "*/" not in s[2:]
            if not in_block and s.split("*/", 1)[1].strip():
                code += 1
            continue
        code += 1
    return raw, code


def main() -> None:
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "src/main/scala")
    raw = code = 0
    for f in sorted(root.rglob("*.scala")):
        r, c = count(f.read_text(encoding="utf-8"))
        raw += r
        code += c
    print(f"{root}: {raw:,} raw lines, {code:,} non-blank non-comment")


if __name__ == "__main__":
    main()
