"""Word-count maple for graft's PipeRunner: text lines on stdin,
`word,1` lines on stdout."""
import sys

out = sys.stdout
for line in sys.stdin:
    for word in line.split():
        out.write(word + ",1\n")
