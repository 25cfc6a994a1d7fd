"""Sources/sinks: checkpoint store, delimited/interval readers."""
