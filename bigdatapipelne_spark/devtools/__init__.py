"""Development-time tooling (drift-normalized bench-record compare); not
part of the engine runtime surface."""
