#!/usr/bin/env python3
"""Masks the ids that change between two regenerations of PLANS.md.

    python3 plans/r13/mask_plans.py PLANS.md masked.md

Expression ids (`#123`, `#123L`), RDD ids (`RDD[76] at`), plan ids, temp
paths and numbers of ten or more digits become fixed tokens. RDD call sites
(`at GraphOps.scala:304`) are kept: they are what the diff is read for.
"""
import re
import sys

s = open(sys.argv[1]).read()
s = re.sub(r'#\d+L?', '#N', s)
s = re.sub(r'\[\d+\] at ', '[N] at ', s)
s = re.sub(r'(plan_id=|id=)\d+', r'\1N', s)
s = re.sub(r'(/tmp/|file:)[^\s,\]\)]+', r'\1X', s)
s = re.sub(r'\d{10,}', 'BIG', s)
open(sys.argv[2], 'w').write(s)
