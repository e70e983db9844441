#!/usr/bin/env python3
"""Compares two regenerations of PLANS.md query by query.

    python3 tools/plan_diff.py OLD_PLANS.md NEW_PLANS.md

Expression ids (`#123`, `#123L`), RDD ids (`RDD[76] at`), plan ids, temp
paths, numbers of ten or more digits and the line numbers of RDD call sites
(`at GraphOps.scala:304` -> `at GraphOps.scala:N`; the file name is kept)
and lambda names (`$Lambda$6532/0x00007f19f96fd780@7f8792f6`) change
between any two regenerations, so they are masked first. Prints the
name of every `## query` section whose masked plan differs, or that only one
file has, and exits 1 if there is any; exits 0 when the plans are the same.
"""
import re
import sys


def mask(plan):
    plan = re.sub(r'#\d+L?', '#N', plan)
    plan = re.sub(r'\[\d+\] at ', '[N] at ', plan)
    plan = re.sub(r'(plan_id=|id=)\d+', r'\1N', plan)
    plan = re.sub(r'(/tmp/|file:)[^\s,\]\)]+', r'\1X', plan)
    plan = re.sub(r'(at \w+\.scala):\d+', r'\1:N', plan)
    plan = re.sub(r'\$Lambda\$[\w/]+@[0-9a-f]+', '$Lambda', plan)
    return re.sub(r'\d{10,}', 'BIG', plan)


def sections(path):
    """`## name` heading -> masked text up to the next heading."""
    out, name, body = {}, None, []
    for line in open(path):
        if line.startswith('## '):
            if name is not None:
                out[name] = mask(''.join(body))
            name, body = line[3:].strip(), []
        elif name is not None:
            body.append(line)
    if name is not None:
        out[name] = mask(''.join(body))
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    old, new = sections(sys.argv[1]), sections(sys.argv[2])
    differ = sorted(n for n in old.keys() | new.keys() if old.get(n) != new.get(n))
    for n in differ:
        print(n)
    sys.exit(1 if differ else 0)


if __name__ == '__main__':
    main()
