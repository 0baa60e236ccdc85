"""Word-count juice for graft's PipeRunner: `word\tcount` lines on stdin,
grouped by word; one `word,total` line per word on stdout."""
import sys

key, total = None, 0
for line in sys.stdin:
    k, _, v = line.rstrip("\n").partition("\t")
    if k != key:
        if key is not None:
            sys.stdout.write(f"{key},{total}\n")
        key, total = k, 0
    total += int(v)
if key is not None:
    sys.stdout.write(f"{key},{total}\n")
