"""The repo benchmark (see NOTES.md): workloads, tracing and reducers."""
